"""Composable public API — DataFrame→DataFrame building blocks.

The registry (``hadoop_deliver_spark/operators/``) proves every
capability against a DuckDB oracle on the fixture tables; THIS module
is what a user calls on their own tables. Every function here:

- takes and returns DataFrames, parameterized by column names —
  nothing is tied to the fixture schemas;
- is shuffle-based / map-side only — no driver-side materialization
  of data (the only collects are tiny scalar/split-point probes,
  documented per function);
- is exercised by a registry operator (so it is covered by the
  oracle-parity gate) AND by direct unit tests in tests/test_api.py.

Quick start — near-dup dedup of your own table in 5 lines::

    from hadoop_deliver_spark import api
    pairs = api.minhash_pairs(df, "id", "body", threshold=0.5)
    comps = api.connected_components(pairs, "id_a", "id_b")
    best = df.join(comps, df["id"] == comps["node_id"], "left")
    keep = best.filter(comps["cluster_id"].isNull()
                       | (df["id"] == comps["cluster_id"]))

(the registry's llm_dedup_keep_best shows the keep-longest variant).
"""

from __future__ import annotations

from collections.abc import Sequence
from urllib.parse import unquote, urlsplit

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.tables import file_signature

__all__ = [
    "dot",
    "vec_norm",
    "keyed_dedup",
    "shingle_sets",
    "minhash_pairs",
    "connected_components",
    "cosine_pairs",
    "exact_global_ntile",
    "exact_global_rank",
    "exact_global_cumsum_desc",
    "exact_global_keyed_cumsum",
    "canonical_url",
    "heavy_hitters",
    "dataset_split",
    "tfidf",
    "asof_join",
    "sessionize",
    "locf_grid",
    "schema_contract_diff",
    "read_avro",
    "write_avro",
    "encode_ids",
    "bitmap_sets",
    "bitmap_intersect_count",
    "char_gram_sets",
    "jaccard_pairs",
    "containment_pairs",
    "simhash_pairs",
    "triangle_count",
    "concurrency_sweep",
    "dedup_chunks",
    "gopher_quality",
    "survival_km",
    "ewma_smooth",
    "holt_smooth",
    "winnow_fingerprints",
    "clear_stage_caches",
]


# --------------------------------------------------------------------------
# vector primitives
# --------------------------------------------------------------------------


def dot(x, y) -> Column:
    """Dot product of two array<double> columns via zip_with +
    aggregate — stays inside JVM codegen, no UDF."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def vec_norm(e) -> Column:
    """L2 norm of an array<double> column. Precompute this ONCE per
    row before any pairwise stage: recomputing both norms per pair
    triples the dominant cost (measured 3× on the all-pairs embedding
    dedup)."""
    return F.sqrt(dot(e, e))


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


def keyed_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Exact keyed dedup keeping the FIRST row per key under
    (order_cols) — the deterministic form of dropDuplicates, whose
    survivor choice is arrival-order-dependent. One shuffle on the
    dedup key; per-group state is O(1) via the rank-filter pattern.
    ``order_cols`` must reach a unique tiebreak for a deterministic
    survivor.

    >>> keyed_dedup(events, ["user_id", "event_type"], ["ts", "event_id"])
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_kd_rn", F.row_number().over(w))
        .filter(F.col("_kd_rn") == 1)
        .drop("_kd_rn")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id_col, shingles array<string>) — distinct k-token shingles of
    a whitespace-tokenized text column, built columnar (transform over
    a sequence of start offsets), no UDF; map-only at any scale. Docs
    shorter than k tokens get an EMPTY set: without the guard,
    F.sequence(0, n−k) DESCENDS for n<k (default step −1) and would
    fabricate shingles."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    sh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(id_col, F.array_distinct(sh).alias("shingles"))


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    n_perm: int = 128,
    n_bands: int = 64,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard float) with exact
    Jaccard ≥ threshold, found via MinHash + banded LSH.

    Shape: shingle explode is map-only; ``n_perm`` minhash values per
    doc are ``n_perm`` parallel min-aggregates over ONE shuffle of the
    inverted index (map-side combined); banding shuffles ``n_bands``
    small (band, hash) keys per doc instead of all pairs; the
    quadratic exact-Jaccard refinement only ever touches same-bucket
    candidates. With the 64×2 default, candidate-pair recall at J=0.5
    is 1−(1−J²)⁶⁴ ≈ 1−1e-8.

    Each minhash is min(xxhash64(salt_i ‖ shingle)) built as explicit
    per-permutation aggregates — NOT transform()-lambdas: per-iteration
    literals captured inside PySpark HOF lambdas collapse to one
    shared expression (measured on 4.1.2), silently yielding
    ``n_perm`` identical permutations.

    Fault-tolerance note: the shingle-set stage is
    ``localCheckpoint``-ed (constructing the returned — otherwise
    lazy — plan triggers an immediate job, and lineage is truncated
    WITHOUT fault tolerance: losing an executor mid-query fails the
    query instead of recomputing). At 100 TB, if recomputation-on-
    loss matters, materialize the shingle stage to a table (or use
    reliable ``checkpoint()``) and pass that in instead.

    Caching contract: that stage is memoized by :func:`_stage_memo`
    and shared with the other dedup operators. A rewritten local
    file changes its file signature and so the key; after an
    executor loss, or a change the key cannot see (remote files
    rewritten under the same names, non-file sources), call
    :func:`clear_stage_caches` before the next call.

    >>> minhash_pairs(docs, "doc_id", "text", threshold=0.5)
    """
    sets, cands = _staged_minhash_parts(
        df, id_col, text_col, shingle_k, n_perm, n_bands
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.col("jaccard").cast("float").alias("jaccard"))
    )


def _staged_minhash_parts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_perm: int,
    n_bands: int,
):
    """Memoized :func:`_minhash_parts` (see :func:`_stage_memo`): every
    MinHash consumer in a session shares one checkpointed candidate
    pair list. Returns (sets, cands) exactly like :func:`_minhash_parts`."""
    params = (id_col, text_col, shingle_k, n_perm, n_bands)

    def build():
        sets, cands = _minhash_parts(df, *params)
        return sets, cands.localCheckpoint(eager=True)

    return _stage_memo("minhash", [df], params, build)


def _minhash_parts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_perm: int,
    n_bands: int,
):
    """Candidate stage of :func:`minhash_pairs`, shared with the
    candidate-volume plan guard. Returns (sets, cands)."""
    assert n_perm >= 2 * n_bands, "need ≥2 minhash rows per band"
    rows = n_perm // n_bands
    # The memoized, spread shingle checkpoint: the 128 xxhash64
    # evaluations per posting row run at the checkpoint's partition
    # width, not the (often single-file) source's.
    sets = _staged_sets(shingle_sets, df, id_col, text_col, shingle_k)
    inv = sets.select(id_col, F.explode("shingles").alias("sh"))
    # (r12 note: a hash-distinct-shingles-then-join variant was
    # measured SLOWER here — xxhash64 on short strings is cheap
    # enough that shipping a 128-slot array per posting row through
    # the aggregate costs more than re-hashing; contrast wave61's
    # md5-based twin, where the per-instance tower is ~50× pricier
    # and the distinct-gram table wins.)
    minhash = inv.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"m{i}")
            for i in range(n_perm)
        ]
    )
    bands = minhash.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col(f"m{rows * b + j}") for j in range(rows)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bh"),
    )
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col("band").alias("band_a"),
        F.col("bh").alias("bh_a"),
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bh").alias("bh_b"),
    )
    cands = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bh_a") == F.col("bh_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return sets, cands


def connected_components(
    edges: DataFrame, src: str, dst: str, max_rounds: int = 50
) -> DataFrame:
    """Undirected pair graph → (node_id, cluster_id = component-minimum
    node id). Min-label propagation WITH pointer doubling: each round
    every node (1) adopts the min label among itself and its
    neighbors, then (2) jumps to its label's label. The jump halves
    chain lengths, so rounds are O(log diameter) — a 1e6-hop chain
    converges in ~20 rounds where plain propagation needs 1e6.

    Labels are element-wise non-increasing and bounded by the
    component min, so an unchanged SUM is a sound fixpoint test
    (monotonicity means sum-equal ⇒ element-wise equal). If the round
    cap is hit without a fixpoint the function RAISES instead of
    returning wrong clusters. Each round is two shuffles; nothing
    driver-side but the 1-scalar fixpoint probe. localCheckpoint
    truncates the 4×-per-round lineage growth; on a real cluster swap
    for checkpoint(dir) to survive executor loss.

    >>> connected_components(pairs, "id_a", "id_b")
    """
    pairs = edges.select(F.col(src).alias("_cc_a"), F.col(dst).alias("_cc_b"))
    bidir = pairs.union(
        pairs.select(F.col("_cc_b").alias("_cc_a"), F.col("_cc_a").alias("_cc_b"))
    ).cache()
    labels = (
        bidir.select(F.col("_cc_a").alias("node_id"))
        .distinct()
        .withColumn("label", F.col("node_id"))
    )
    prev_sum = None
    for _ in range(max_rounds):
        neighbor_min = (
            bidir.join(labels, bidir["_cc_b"] == labels["node_id"])
            .groupBy("_cc_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(
            neighbor_min, labels["node_id"] == neighbor_min["_cc_a"], "left"
        ).select(
            "node_id",
            F.least("label", F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
        )
        hop = propagated.select(
            F.col("node_id").alias("h_id"), F.col("label").alias("h_label")
        )
        new_labels = (
            propagated.join(hop, propagated["label"] == hop["h_id"], "left")
            .select(
                "node_id",
                F.least(
                    "label", F.coalesce("h_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            bidir.unpersist()
            return labels.select("node_id", F.col("label").alias("cluster_id"))
        prev_sum = new_sum
    bidir.unpersist()
    raise RuntimeError(
        f"connected components did not converge in {max_rounds} rounds — "
        "graph diameter exceeds 2^rounds; raise max_rounds"
    )


# --------------------------------------------------------------------------
# exact global ranking without a single-partition window
# --------------------------------------------------------------------------
#
# Global `ntile()/row_number()/sum() OVER (ORDER BY …)` funnels the
# whole table through ONE task. These cores reproduce the exact result
# with a block-ranked construction: (1) percentile_approx split points
# (balance only — accuracy does not affect correctness); (2) a
# deterministic block id per row (#splits < value — a pure function of
# the row, stable across driver actions); (3) tiny block-size collect →
# cumulative offsets broadcast back as a map literal; (4) row_number
# PARTITIONED by block + offset = exact global rank. Every stage is
# map-side or hash-partitioned; the only collects are scalar probes.


def spread_bounded(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition of a BOUNDED small table (calendar
    axis, daily series) to the session's default parallelism — for
    use immediately before a pairwise/cross join that fans it out
    quadratically. Without this the streamed side of the
    nested-loop join is typically ONE AQE-coalesced partition, so
    the O(n²) fan-out and every downstream aggregate run on a
    single task (r12 measurement, guide §2.5/§2.6: ts_passing_bablok
    spent 6.3s of 10.7s in single-task stages). The shuffle moved is
    only the bounded axis itself (≤ a few thousand rows); the
    partition count follows the session's core count, never a
    constant. Row-level results are unaffected: every consumer is an
    order-invariant reduce or an exact-rank core with a total-order
    tiebreak."""
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(max(2, n))


def _materialize_for_probes(df: DataFrame) -> DataFrame:
    """Materialize a block-ranked core's input ONCE (eager
    localCheckpoint) before the core's two scalar probe actions
    (split points, block sizes/sums) run. Without this every probe —
    plus the final query and any downstream self-join — re-executes
    the input's full lineage, so a core over an expensive upstream
    (join + grid + cumsum) pays it 3–5×; r12 measurement: the
    chatterjee/hl-shift/passing-bablok family spent most of its time
    in exactly these recomputes (guide §1/§5 — probe actions are
    driver-side scalar reduces, the data pass they trigger is not).
    Inputs that are ALREADY a checkpoint scan (callers like
    graph_degree_gini checkpoint themselves) skip the re-store. Same
    non-recoverable-lineage caveat as every localCheckpoint use in
    this package: within-query scope only."""
    try:
        if df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD":
            return df
    except Exception:
        pass
    return df.localCheckpoint(eager=True)


def _approx_splits(df: DataFrame, value_col: str, nblocks: int) -> list[int]:
    """Deduplicated percentile_approx split points for block
    assignment. On an EMPTY input percentile_approx returns NULL —
    guard it to [] (a single block), which degrades the block-ranked
    construction gracefully to the plain windowed form instead of a
    driver-side TypeError before any Spark error could explain it."""
    qs = [i / nblocks for i in range(1, nblocks)]
    got = (
        df.agg(
            F.percentile_approx(
                value_col,
                F.array(*[F.lit(q) for q in qs]),
                F.lit(10_000),
            ).alias("b")
        )
        .collect()[0]
        .b
    )
    if got is None:
        return []
    return sorted({int(s) for s in got})


def _split_arr(splits: list[int]) -> Column:
    """Split points as a literal array; typed even when empty (a bare
    F.array() is array<null>, which the `<` inside the block-assignment
    lambda cannot compare against numeric columns)."""
    if not splits:
        return F.array().cast("array<bigint>")
    return F.array(*[F.lit(s) for s in splits])


def _offset_map(offsets: dict[int, int]) -> Column:
    """block id → global offset as a literal map; typed even when empty
    (a bare F.create_map() is map<void,void>, which cannot be indexed
    by the INT block column — only reachable on an empty input, where
    the lookup never evaluates on any row anyway)."""
    if not offsets:
        return F.create_map().cast("map<int,bigint>")
    return F.create_map(
        *[F.lit(x) for b, off in offsets.items() for x in (b, int(off))]
    )


def exact_global_ntile(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_buckets: int,
    out_col: str,
    nblocks: int = 32,
) -> DataFrame:
    """Append ``out_col`` = exact global ntile(n_buckets) of rows
    ordered by (value_col, key_col) — integer-valued value columns;
    key_col must be unique (the deterministic tiebreak).

    >>> exact_global_ntile(users, "revenue_cents", "user_id", 5, "quintile")
    """
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, value_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_col}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(value_col)))
    )
    sizes = sorted(
        (r[blk], r["count"]) for r in blocked.groupBy(blk).count().collect()
    )
    offsets, total = {}, 0
    for b, cnt in sizes:
        offsets[b] = total
        total += cnt
    off_map = _offset_map(offsets)
    rn = (
        F.row_number().over(
            Window.partitionBy(blk).orderBy(value_col, key_col)
        )
        + off_map[F.col(blk)]
    )
    q, r = divmod(total, n_buckets)
    if q == 0:  # fewer rows than buckets: ntile assigns rank directly
        bucket: Column = rn
    else:
        bucket = F.when(
            rn <= r * (q + 1), F.floor((rn - 1) / F.lit(q + 1)) + 1
        ).otherwise(F.floor((rn - 1 - r * (q + 1)) / F.lit(q)) + r + 1)
    return blocked.withColumn(out_col, bucket.cast("long")).drop(blk)


def exact_global_cumsum_desc(
    df: DataFrame,
    value_col: str,
    key_col: str,
    out_col: str,
    nblocks: int = 32,
) -> DataFrame:
    """Append ``out_col`` = EXACT running sum of ``value_col`` over
    rows ordered by (value_col DESC, key_col ASC) — the cumulative-sum
    twin of exact_global_ntile, same block-ranked shape: the cumsum
    window partitions BY BLOCK, and each block adds the broadcast
    exact total of all strictly-higher blocks. Integer values ⇒
    associative ⇒ identical to the single-task global window at any
    parallelism. key_col must be unique (deterministic tiebreak)."""
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, value_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_col}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(value_col)))
    )
    sums = {
        r[blk]: r["s"]
        for r in blocked.groupBy(blk).agg(F.sum(value_col).alias("s")).collect()
    }
    offsets = {b: sum(s for bb, s in sums.items() if bb > b) for b in sums}
    off_map = _offset_map(offsets)
    w = (
        Window.partitionBy(blk)
        .orderBy(F.col(value_col).desc(), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum(value_col).over(w) + off_map[F.col(blk)]).cast("long")
    return blocked.withColumn(out_col, cum).drop(blk)


def exact_global_rank(
    df: DataFrame,
    value_col: str,
    key_col: str,
    out_col: str,
    nblocks: int = 32,
) -> DataFrame:
    """Append ``out_col`` = EXACT global 1-based rank of rows ordered
    by (value_col ASC, key_col ASC) — the distributed zipWithIndex
    done without a single-partition window: row_number runs PER BLOCK
    and the broadcast cumulative block sizes shift each block to its
    global offset. key_col must be unique (deterministic total order);
    integer value columns."""
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, value_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_col}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(value_col)))
    )
    sizes = sorted(
        (r[blk], r["count"]) for r in blocked.groupBy(blk).count().collect()
    )
    offsets, total = {}, 0
    for b, cnt in sizes:
        offsets[b] = total
        total += cnt
    off_map = _offset_map(offsets)
    rn = (
        F.row_number().over(Window.partitionBy(blk).orderBy(value_col, key_col))
        + off_map[F.col(blk)]
    )
    return blocked.withColumn(out_col, rn.cast("long")).drop(blk)


def exact_global_keyed_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    key_col: str,
    out_col: str,
    nblocks: int = 32,
) -> DataFrame:
    """Append ``out_col`` = EXACT running sum of ``value_col`` over
    rows ordered by (order_col ASC, key_col ASC) — the generalized
    form of exact_global_cumsum_desc where the ORDER axis and the
    SUMMED measure are different columns (a CDF over a value grid, a
    backlog over time, …). Same block-ranked shape: blocks split on
    the order axis, the cumsum window partitions BY BLOCK, and each
    block adds the broadcast exact total of all strictly-lower
    blocks. Integer measures ⇒ associative ⇒ identical to the
    single-task global window at any parallelism. key_col must be
    unique within the block order (deterministic tiebreak).

    >>> cdf = exact_global_keyed_cumsum(byval, "cents", "cnt", "cents", "cum")
    """
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, order_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_col}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(order_col)))
    )
    sums = {
        r[blk]: r["s"]
        for r in blocked.groupBy(blk).agg(F.sum(value_col).alias("s")).collect()
    }
    offsets = {b: sum(s for bb, s in sums.items() if bb < b) for b in sums}
    off_map = _offset_map(offsets)
    w = (
        Window.partitionBy(blk)
        .orderBy(F.col(order_col), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum(value_col).over(w) + off_map[F.col(blk)]).cast("long")
    return blocked.withColumn(out_col, cum).drop(blk)


def exact_global_keyed_cumsum_multi(
    df: DataFrame,
    order_col: str,
    value_cols: "Sequence[str]",
    key_col: str,
    out_cols: "Sequence[str]",
    nblocks: int = 32,
) -> DataFrame:
    """N exact running sums over the SAME (order_col, key_col) axis in
    ONE block-ranked pass (r12) — the chained form
    ``exact_global_keyed_cumsum(...cum1); exact_global_keyed_cumsum(
    ...cum2); …`` re-materialized its input and re-ran the split
    probe, the per-block sum collect and the window PER MEASURE
    (agg_energy_distance chained four: four checkpoints, eight probe
    jobs, four windows). Here: one materialize, one split probe, one
    per-block sum collect covering every measure, one window pass
    emitting all N columns. Result columns are bit-identical to the
    chained form — the block assignment only balances work (the
    running sums are exact at ANY blocking), and the window order
    (order_col, key_col) is the same total order."""
    assert len(value_cols) == len(out_cols) and value_cols
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, order_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_cols[0]}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(order_col)))
    )
    rows = blocked.groupBy(blk).agg(
        *[F.sum(v).alias(f"_s{i}") for i, v in enumerate(value_cols)]
    ).collect()
    w = (
        Window.partitionBy(blk)
        .orderBy(F.col(order_col), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = blocked
    for i, (v, o) in enumerate(zip(value_cols, out_cols)):
        sums = {r[blk]: r[f"_s{i}"] for r in rows}
        offsets = {b: sum(s for bb, s in sums.items() if bb < b) for b in sums}
        off_map = _offset_map(offsets)
        out = out.withColumn(
            o, (F.sum(v).over(w) + off_map[F.col(blk)]).cast("long")
        )
    return out.drop(blk)


def _stratified_offsets(
    blocked: DataFrame, key_col: str, blk: str, measure
) -> Column:
    """(stratum, block) → exact offset of all strictly-lower blocks of
    the SAME stratum, broadcast back as a map literal keyed by
    ``stratum\\x1fblock``. Driver state is |strata|·nblocks entries —
    bounded by the fixed key domain times the block count, never by
    the corpus (the same contract as the global cores' offset maps).
    ``measure`` is the per-group aggregate column (count or sum).

    Contract: stratum keys must be NON-NULL (the lookup side's
    ``concat_ws`` silently drops NULLs) and the map key is built from
    Spark's OWN ``cast('string')`` of the key — never a Python repr,
    which diverges for booleans/floats/dates. Both are enforced here:
    the groupBy collects ``key_col.cast('string')`` so driver and
    executor render the key identically, and a NULL key or NULL
    measure raises instead of silently yielding NULL ranks."""
    skey = f"_skey_{blk}"
    rows = (
        blocked.groupBy(F.col(key_col).cast("string").alias(skey), blk)
        .agg(measure.alias("_m"))
        .collect()
    )
    by_key: dict = {}
    for r in rows:
        if r[skey] is None or r["_m"] is None:
            raise ValueError(
                f"_stratified_offsets: NULL stratum key or measure in "
                f"{key_col!r} (NULLs are dropped by the concat_ws lookup)"
            )
        by_key.setdefault(r[skey], []).append((r[blk], r["_m"]))
    entries = []
    for kv, lst in by_key.items():
        total = 0
        for b, m in sorted(lst):
            entries.append((f"{kv}\x1f{b}", total))
            total += int(m)
    if not entries:
        return F.create_map().cast("map<string,bigint>")
    return F.create_map(
        *[F.lit(x) for key, off in entries for x in (key, off)]
    )


def exact_stratified_rank(
    df: DataFrame,
    key_col: str,
    block_col: str,
    order_cols: list,
    out_col: str,
    nblocks: int = 32,
) -> DataFrame:
    """Append ``out_col`` = EXACT 1-based rank WITHIN each ``key_col``
    stratum, rows ordered by ``order_cols`` — the per-stratum sibling
    of :func:`exact_global_rank` for LOW-CARDINALITY stratum keys: a
    plain ``PARTITION BY stratum`` window caps parallelism at the
    stratum count at ANY data size (the round-7 verdict's
    win_range_interval finding), while here the window partitions by
    (stratum, block) — nblocks× the tasks. ``block_col`` must be an
    INTEGER column MONOTONE in the ``order_cols`` order (equal values
    may tie — ties stay in one block, so cross-block order is total);
    split points come from one global percentile_approx (balance
    only, correctness never depends on them).

    >>> ranked = exact_stratified_rank(h, "event_type", "h32",
    ...                                ["hx", "event_id"], "pos")
    """
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, block_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_col}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(block_col)))
    )
    off_map = _stratified_offsets(
        blocked, key_col, blk, F.count(F.lit(1)).cast("long")
    )
    w = Window.partitionBy(key_col, blk).orderBy(*order_cols)
    lookup = F.concat_ws(
        "\x1f", F.col(key_col).cast("string"), F.col(blk).cast("string")
    )
    rn = (F.row_number().over(w) + off_map[lookup]).cast("long")
    return blocked.withColumn(out_col, rn).drop(blk)


def exact_stratified_cumsum(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    out_col: str,
    tiebreak_col: str | None = None,
    nblocks: int = 32,
) -> DataFrame:
    """Append ``out_col`` = EXACT inclusive running sum of
    ``value_col`` WITHIN each ``key_col`` stratum, rows ordered by
    (order_col[, tiebreak_col]) — the per-stratum sibling of
    :func:`exact_global_keyed_cumsum`, same low-cardinality-stratum
    rationale as :func:`exact_stratified_rank`. Blocks split on the
    integer ``order_col`` axis; integer measures ⇒ associative ⇒
    identical to the single-task-per-stratum window at any
    parallelism.

    >>> c = exact_stratified_cumsum(t, "lang", "doc_id", "n_tok", "cum")
    """
    df = _materialize_for_probes(df)
    splits = _approx_splits(df, order_col, nblocks)
    split_arr = _split_arr(splits)
    blk = f"_blk_{out_col}"
    blocked = df.withColumn(
        blk, F.size(F.filter(split_arr, lambda s: s < F.col(order_col)))
    )
    off_map = _stratified_offsets(
        blocked, key_col, blk, F.sum(value_col).cast("long")
    )
    order = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    w = (
        Window.partitionBy(key_col, blk)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lookup = F.concat_ws(
        "\x1f", F.col(key_col).cast("string"), F.col(blk).cast("string")
    )
    cum = (F.sum(value_col).over(w) + off_map[lookup]).cast("long")
    return blocked.withColumn(out_col, cum).drop(blk)


# --------------------------------------------------------------------------
# dictionary-encoded bitmap sets (dense-set intersection machinery)
# --------------------------------------------------------------------------


def encode_ids(
    values: DataFrame, col: str, out: str = "id", n_buckets: int = 64
) -> DataFrame:
    """(col, out) — dense non-negative int ids for the distinct values
    of ``col``, assigned WITHOUT a global single-partition sort: each
    value hashes into one of ``n_buckets`` buckets, is ranked inside
    its bucket (the window is partitioned — parallel across buckets),
    and ids interleave as ``rank·n_buckets + bucket``. Ids are
    collision-free and dense up to the bucket-balance factor (~1.1×
    under xxhash64). One shuffle on the bucket key.

    >>> gid = encode_ids(inv.select("g").distinct(), "g", out="gid")
    """
    wb = Window.partitionBy("_eid_pid").orderBy(col)
    return (
        values.select(col).distinct()
        .withColumn(
            "_eid_pid", F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")
        )
        .withColumn(
            out, (F.row_number().over(wb) - 1) * n_buckets + F.col("_eid_pid")
        )
        .select(col, out)
    )


def bitmap_sets(
    pairs: DataFrame,
    id_cols: str | Sequence[str],
    code_col: str,
    n_chunks: int,
    out: str = "bm",
) -> DataFrame:
    """Per ``id_cols`` group: a fixed-width bitmap (``array<long>`` of
    ``n_chunks`` entries) with bit ``code_col`` set for every row —
    the dictionary-encoded set representation. ``code_col`` must hold
    dense non-negative ints (from :func:`encode_ids`);
    ``n_chunks = max_code // 64 + 1`` (one scalar agg at the caller).
    Two map-side-combined shuffles on the id key (chunk bit_or, then
    chunk assembly); no UDF, so intersection stays in codegen.

    Intersections via :func:`bitmap_intersect_count` cost
    ``n_chunks`` AND+popcount ops per pair — the dense-set/small-
    vocabulary fast path (gram vocab ≪ corpus, co-activity graphs,
    …). For vocabularies where ``n_chunks`` would exceed ~10⁴ longs,
    prefer sorted-array intersection on the raw sets.

    >>> bms = bitmap_sets(inv_coded, "doc_id", "gid", n_chunks)
    """
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    chunks = (
        pairs.withColumn("_bs_c", (F.col(code_col) / 64).cast("int"))
        .withColumn(
            "_bs_bit",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {code_col} % 64)"),
        )
        .groupBy(*ids, "_bs_c")
        .agg(F.bit_or("_bs_bit").alias("_bs_m"))
    )
    return (
        chunks.groupBy(*ids)
        .agg(
            F.map_from_arrays(
                F.collect_list("_bs_c"), F.collect_list("_bs_m")
            ).alias("_bs_cm")
        )
        .withColumn(
            out,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda c: F.coalesce(
                    F.try_element_at(F.col("_bs_cm"), c),
                    F.lit(0).cast("long"),
                ),
            ),
        )
        .select(*ids, out)
    )


def bitmap_intersect_count(a, b) -> Column:
    """|A ∩ B| of two equal-width :func:`bitmap_sets` columns:
    Σ bit_count(aᵢ & bᵢ), fully codegen'd — no UDF, no explode."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def char_gram_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, out: str = "gs"
) -> DataFrame:
    """(id_col, out array<string>) — distinct character k-grams of a
    text column, built columnar (transform over offsets), map-only.
    Texts shorter than k get an EMPTY set: without the guard,
    F.sequence(1, n−k+1) DESCENDS for n<k (default step −1) and would
    fabricate grams."""
    text = F.col(text_col)
    return df.select(
        id_col,
        F.when(
            F.length(text) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length(text) - (k - 1)),
                    lambda i: text.substr(i, F.lit(k)),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias(out),
    )


#: Session memo of the expensive intermediate stages the dedup and
#: graph operators share (gram/shingle sets, LSH and cosine candidate
#: lists, the co-purchase projection, the IVF search, the near-dup
#: component labels). Entries are eager ``localCheckpoint`` results,
#: keyed by :func:`_stage_memo`. FIFO-capped; an evicted entry's
#: blocks are released by the ContextCleaner once it is GC'd.
_STAGE_MEMO: dict[tuple, object] = {}
_STAGE_MEMO_MAX = 16


def _stage_memo(tag: str, sources: Sequence[DataFrame], params: tuple, build):
    """``build()`` once per (tag, application, sources, params).

    Each source DataFrame enters the key as its ``semanticHash()``,
    schema and :func:`_data_version`, so a changed plan or a rewritten
    local file misses. ``build`` must return materialized stages
    (eager ``localCheckpoint``): those are NOT fault-tolerant, so after
    an executor loss, or an in-place change the key cannot see (remote
    files rewritten under the same names, non-file sources), call
    :func:`clear_stage_caches` first."""
    key = (
        tag,
        sources[0].sparkSession.sparkContext.applicationId,
        *((s.semanticHash(), str(s.schema), _data_version(s)) for s in sources),
        params,
    )
    if key not in _STAGE_MEMO:
        _STAGE_MEMO[key] = build()
        while len(_STAGE_MEMO) > _STAGE_MEMO_MAX:
            del _STAGE_MEMO[next(iter(_STAGE_MEMO))]
    return _STAGE_MEMO[key]


def _data_version(df: DataFrame) -> tuple:
    """Data-version part of a stage-memo key: each input file of
    ``df`` with its :func:`~hadoop_deliver_spark.tables.file_signature`
    when it is local, by name alone when it is remote. Non-file
    sources give ``()`` (plan-only keying)."""
    try:
        files = df.inputFiles()
    except Exception:  # non-file plans (e.g. in-memory relations)
        files = []
    out = []
    for uri in sorted(files):
        parts, sig = urlsplit(uri), None
        if parts.scheme == "file":
            try:
                sig = file_signature(unquote(parts.path))
            except OSError:  # gone since listing: the read itself raises
                pass
        out.append((uri, sig))
    return tuple(out)


def clear_stage_caches() -> None:
    """Drop every entry of the session stage memo
    (:func:`_stage_memo`). Call this after an executor loss (the
    memoized localCheckpoint blocks are not fault-tolerant — a later
    hit would fail on truncated lineage instead of recomputing), or
    after changing a source the memo key cannot see: remote files
    rewritten under the same names, or a non-file source. The parquet
    schema cache behind ``tables.read_parquet`` is left alone: its
    entries are keyed by each local path's file signature and the
    inference confs, so a rewritten file or changed conf already
    misses."""
    _STAGE_MEMO.clear()


def _staged_sets(sets_fn, df: DataFrame, id_col: str, text_col: str, k: int):
    """Memoized ``sets_fn(df, id_col, text_col, k=k)`` checkpoint
    (:func:`char_gram_sets` or :func:`shingle_sets`), shared by every
    caller in the session. The source is spread to the session's
    default parallelism first when it arrives narrow: a single small
    parquet file plans as ONE partition, which serialized the whole
    set build on one core."""

    def build():
        par = df.sparkSession.sparkContext.defaultParallelism
        src = df if df.rdd.getNumPartitions() >= par else df.repartition(par)
        return sets_fn(src, id_col, text_col, k=k).localCheckpoint(eager=True)

    return _stage_memo(sets_fn.__name__, [df], (id_col, text_col, k), build)


#: refine-path switch for :func:`jaccard_pairs` / :func:`containment_pairs`
#: ("auto" mode): the dense bitmap table is |corpus| × ⌈|vocab|/64⌉
#: longs and is BROADCAST — safe only while that product stays small.
#: 2²² longs = 32 MiB; past it, auto switches to shuffle joins +
#: array intersection (no broadcast, no dense bitmaps — the
#: web-scale path).
_BITMAP_REFINE_MAX_WORDS = 1 << 22


def _bitmap_arrow_refine(
    cands: DataFrame,
    bitmaps: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    n_chunks: int,
    n_col: str | None = None,
) -> DataFrame | None:
    """Arrow-vectorized exact-intersection refine (r12, guide §4.2):
    the dense :func:`bitmap_sets` table is collected once (bounded by
    the same :data:`_BITMAP_REFINE_MAX_WORDS` gate that already
    authorizes broadcasting it), shipped to the Python workers as a
    NumPy uint64 matrix, and each candidate batch is scored with ONE
    vectorized ``&`` + SWAR popcount per 64-bit word — replacing the
    per-row zip_with/aggregate fold, which Spark evaluates
    interpreted (no codegen for HOF lambdas; measured at sf0.1 the
    fold was ~5× the cost of the batch path on 5.4M candidates).
    Returns (a_col, b_col, _ni, _na, _nb) with the EXACT intersection
    and set sizes — thresholds stay in Spark SQL at the caller, in
    the same expression form as the other refine paths, so all paths
    share one arithmetic contract. Returns None when the gate fails:
    ids must be non-negative integrals whose RANGE (max_id+1) times
    ``n_chunks`` fits the word budget (a sparse id space past the
    budget falls back to the join paths). Driver-side state: one
    bounded collect of the gated bitmap table (≤ 32 MiB of longs) —
    the same bytes the join path ships as a broadcast relation."""
    import numpy as np
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(
        bitmaps.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        return None
    cols = [id_col, "bm"] + ([n_col] if n_col else [])
    rows = bitmaps.select(*cols).collect()
    if rows:
        lo = min(r[id_col] for r in rows)
        hi = max(r[id_col] for r in rows)
        if lo < 0 or (hi + 1) * n_chunks > _BITMAP_REFINE_MAX_WORDS:
            return None
        nmax = hi + 1
    else:
        nmax = 1
    mat = np.zeros((nmax, n_chunks), dtype=np.uint64)
    for r in rows:
        mat[r[id_col]] = np.array(r["bm"], dtype=np.int64).view(np.uint64)
    if n_col:
        sizes = np.zeros(nmax, dtype=np.int64)
        for r in rows:
            sizes[r[id_col]] = r[n_col]
    m5 = np.uint64(0x5555555555555555)
    m3 = np.uint64(0x3333333333333333)
    mf = np.uint64(0x0F0F0F0F0F0F0F0F)
    mm = np.uint64(0x0101010101010101)
    s1, s2, s4, s56 = (np.uint64(s) for s in (1, 2, 4, 56))
    if not n_col:
        # |set| == popcount(bm) by bitmap_sets construction
        x = mat - ((mat >> s1) & m5)
        x = (x & m3) + ((x >> s2) & m3)
        x = (x + (x >> s4)) & mf
        sizes = ((x * mm) >> s56).sum(axis=1).astype(np.int64)
    bc = cands.sparkSession.sparkContext.broadcast((mat, sizes))

    def _refine(batches):
        import pyarrow as pa

        m, nl = bc.value
        for batch in batches:
            ia = batch.column(a_col).to_numpy().astype(np.int64)
            ib = batch.column(b_col).to_numpy().astype(np.int64)
            x = m[ia] & m[ib]
            x = x - ((x >> s1) & m5)
            x = (x & m3) + ((x >> s2) & m3)
            x = (x + (x >> s4)) & mf
            ni = ((x * mm) >> s56).sum(axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(a_col),
                    batch.column(b_col),
                    pa.array(ni),
                    pa.array(nl[ia]),
                    pa.array(nl[ib]),
                ],
                names=[a_col, b_col, "_ni", "_na", "_nb"],
            )

    a_t = cands.schema[a_col].dataType.simpleString()
    b_t = cands.schema[b_col].dataType.simpleString()
    return cands.select(a_col, b_col).mapInArrow(
        _refine,
        f"{a_col} {a_t}, {b_col} {b_t}, _ni long, _na long, _nb long",
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.55,
    char_k: int = 5,
    refine: str = "auto",
) -> DataFrame:
    """EXACT character-k-gram Jaccard near-dup pairs
    (id_a, id_b, jaccard float) with J ≥ threshold — the
    deterministic complement of :func:`minhash_pairs` (no hash
    recall; every qualifying pair is returned, bit-for-bit
    reproducible across engines).

    Shape: PPJoin prefix + positional filter (Xiao et al., WWW'08;
    relational formulation after Vernica/Carey/Li, SIGMOD'10 — both
    public algorithms) — grams ordered globally by document frequency
    asc; two sets with J ≥ t MUST share a gram within each one's
    first |x| − ⌈t·|x|⌉ + 1 grams, so only rare-gram prefixes join
    (one extra slot kept as ceiling-arithmetic margin). A lossless
    size-ratio predicate (t·|A| ≤ |B| ≤ |A|/t) prunes the candidate
    join, and the POSITIONAL filter prunes it further: a shared gram
    at rank i of A and j of B bounds the overlap by
    u = 1 + min(|A|−i, |B|−j), so the pair can reach J ≥ t through
    this gram only if u/(|A|+|B|−u) ≥ t. Lossless because the FIRST
    shared gram (in the global order) of a truly-similar pair sits
    at rank ≤ |x|−α+1 in both sets (α = required overlap), where the
    bound passes; the compare uses the SAME division form as the
    refine, so it is exactly as permissive — not an ulp tighter. The
    exact refine has TWO interchangeable physical paths (both exact;
    ``refine=`` picks "bitmap" / "shuffle" / "auto"):

    - **bitmap** — dictionary-encoded dense bitmaps
      (:func:`bitmap_sets`, Σ bit_count(a&b) per pair, codegen'd),
      broadcast to every candidate partition. The bitmap table is
      |corpus| × ⌈|vocab|/64⌉ longs: unbeatable while that fits an
      executor (small vocab / modest corpus), fatal past it.
    - **shuffle** — the web-scale path: candidates shuffle-join the
      gram-set table on each side and intersect the two gram ARRAYS
      directly (``array_intersect`` — hash set intersection, no dense
      bitmaps, no broadcast, nothing driver- or executor-resident
      scales with the corpus).

    "auto" measures |corpus| × ⌈|vocab|/64⌉ against
    :data:`_BITMAP_REFINE_MAX_WORDS` (32 MiB of longs) and picks;
    both paths are pinned exact by the parametrized property fuzz.
    Driver-side state: two scalar collects (max gram id, corpus
    count). The candidate stages are identical under every refine and
    remain the sub-quadratic story.

    Fault-tolerance note: the gram-set stage is
    ``localCheckpoint``-ed (plan construction triggers an immediate
    job; lineage is truncated WITHOUT fault tolerance — an executor
    loss mid-query fails the query instead of recomputing). At
    100 TB, if recomputation-on-loss matters, materialize the gram
    stage to a table (or use reliable ``checkpoint()``) upstream.
    The stage is memoized by :func:`_stage_memo` under the same
    contract as :func:`minhash_pairs`.

    >>> jaccard_pairs(docs, "pk", "body", threshold=0.6)
    """
    t = threshold
    grams, inv, gdf, cands = _jaccard_parts(df, id_col, text_col, t, char_k)
    if refine not in ("auto", "arrow", "bitmap", "shuffle"):
        raise ValueError(
            f"refine must be auto|arrow|bitmap|shuffle, got {refine!r}"
        )
    scored = None
    if refine in ("auto", "arrow", "bitmap"):
        gid = encode_ids(gdf, "_jp_g", out="_jp_gid")
        max_gid = gid.agg(F.max("_jp_gid")).first()[0]
        n_chunks = ((max_gid if max_gid is not None else 0) + 64) // 64
        if refine == "auto":
            refine = (
                "arrow"
                if grams.count() * n_chunks <= _BITMAP_REFINE_MAX_WORDS
                else "shuffle"
            )
    if refine in ("arrow", "bitmap"):
        bitmaps = bitmap_sets(
            inv.join(F.broadcast(gid), "_jp_g"),
            [id_col, "_jp_n"],
            "_jp_gid",
            n_chunks,
        )
    if refine == "arrow":
        arrow = _bitmap_arrow_refine(
            cands,
            bitmaps.withColumnRenamed(id_col, "_jp_bid"),
            id_col="_jp_bid",
            a_col="id_a",
            b_col="id_b",
            n_chunks=n_chunks,
            n_col="_jp_n",
        )
        if arrow is not None:
            scored = arrow.select(
                "id_a",
                "id_b",
                F.col("_ni").alias("_jp_ni"),
                F.col("_na").alias("na"),
                F.col("_nb").alias("nb"),
            )
        else:
            refine = "bitmap"  # id-space gate failed: join path
    if scored is None and refine == "bitmap":
        ba = bitmaps.select(
            F.col(id_col).alias("id_a"),
            F.col("_jp_n").alias("na"),
            F.col("bm").alias("_jp_bm_a"),
        )
        bb = bitmaps.select(
            F.col(id_col).alias("id_b"),
            F.col("_jp_n").alias("nb"),
            F.col("bm").alias("_jp_bm_b"),
        )
        scored = (
            cands.join(F.broadcast(ba), "id_a")
            .join(F.broadcast(bb), "id_b")
            .withColumn(
                "_jp_ni", bitmap_intersect_count("_jp_bm_a", "_jp_bm_b")
            )
        )
    if scored is None:
        ga = grams.select(
            F.col(id_col).alias("id_a"),
            F.size("gs").alias("na"),
            F.col("gs").alias("_jp_gs_a"),
        )
        gb = grams.select(
            F.col(id_col).alias("id_b"),
            F.size("gs").alias("nb"),
            F.col("gs").alias("_jp_gs_b"),
        )
        scored = (
            cands.join(ga, "id_a")
            .join(gb, "id_b")
            .withColumn(
                "_jp_ni", F.size(F.array_intersect("_jp_gs_a", "_jp_gs_b"))
            )
        )
    return (
        scored.withColumn(
            "jaccard",
            F.col("_jp_ni") / (F.col("na") + F.col("nb") - F.col("_jp_ni")),
        )
        .filter(F.col("jaccard") >= t)
        .select(
            "id_a", "id_b", F.col("jaccard").cast("float").alias("jaccard")
        )
    )


def _jaccard_parts(
    df: DataFrame, id_col: str, text_col: str, t: float, char_k: int
):
    """Candidate stage of :func:`jaccard_pairs`, shared with the
    candidate-volume plan guard (tests/test_properties.py) so the
    guard measures the REAL stage, not a replica. Returns
    (grams, inv, gdf, cands)."""
    # memoized checkpoint, shared with the containment twin
    grams = _staged_sets(char_gram_sets, df, id_col, text_col, char_k)
    inv = grams.select(
        id_col, F.size("gs").alias("_jp_n"), F.explode("gs").alias("_jp_g")
    )
    gdf = inv.groupBy("_jp_g").agg(F.count(F.lit(1)).alias("_jp_gdf"))
    wg = Window.partitionBy(id_col).orderBy("_jp_gdf", "_jp_g")
    # _jp_h: int join key — a hash COLLISION can only fabricate an
    # extra candidate (killed by the exact refine), never lose one,
    # so the string never needs to travel through the candidate join
    ranked = (
        inv.join(F.broadcast(gdf), "_jp_g")
        .withColumn("_jp_rk", F.row_number().over(wg))
        .withColumn("_jp_h", F.xxhash64("_jp_g"))
        .select(id_col, "_jp_n", "_jp_h", "_jp_rk")
    )
    # size-ordered roles: the SMALLER set of a qualifying pair needs
    # only its first |x| − ⌈2t/(1+t)·|x|⌉ + 1 grams probed (overlap
    # α ≥ t/(1+t)·(|x|+|y|) ≥ 2t/(1+t)·|x| when |y| ≥ |x|), while the
    # larger side keeps the standard |y| − ⌈t·|y|⌉ + 1 index prefix —
    # and each pair is generated in ONE role order instead of two
    short = ranked.filter(
        F.col("_jp_rk")
        <= F.col("_jp_n")
        - F.ceil(F.lit(2 * t / (1 + t)) * F.col("_jp_n"))
        + 2
    )
    full = ranked.filter(
        F.col("_jp_rk")
        <= F.col("_jp_n") - F.ceil(F.lit(t) * F.col("_jp_n")) + 2
    )
    a = short.select(
        F.col(id_col).alias("id_a"),
        F.col("_jp_n").alias("na"),
        "_jp_h",
        F.col("_jp_rk").alias("_jp_rka"),
    )
    b = full.select(
        F.col(id_col).alias("id_b"),
        F.col("_jp_n").alias("nb"),
        "_jp_h",
        F.col("_jp_rk").alias("_jp_rkb"),
    )
    # positional overlap upper bound through THIS shared gram: the
    # first shared gram of a truly-qualifying pair sits at rank
    # ≤ |x|−α+1 in both sets, where this bound provably passes. The
    # compare uses the SAME division form as the refine's J ≥ t test
    # (ub/(na+nb−ub) is monotone in the integer ub, so every overlap
    # the refine would accept passes here) — a multiply form can
    # disagree with the divide form by an ulp at exact-threshold
    # pairs and silently prune a boundary pair
    ub = F.lit(1) + F.least(
        F.col("na") - F.col("_jp_rka"), F.col("nb") - F.col("_jp_rkb")
    )
    # explicit-width repartitions — same rationale as the containment
    # twin: the posting join and the pair-dedup are CPU-heavy,
    # byte-light stages that AQE's byte-targeted coalescing squeezes
    # onto a handful of tasks; REPARTITION_BY_NUM pins them at
    # defaultParallelism and the hash distribution satisfies the
    # downstream join/distinct requirement (no extra exchange)
    par = df.sparkSession.sparkContext.defaultParallelism
    cands = (
        a.repartition(par, "_jp_h")
        .join(b.repartition(par, "_jp_h"), ["_jp_h"])
        .filter(
            (
                (F.col("nb") > F.col("na"))
                | ((F.col("nb") == F.col("na")) & (F.col("id_b") > F.col("id_a")))
            )
            & (F.col("nb") <= F.floor(F.col("na") / F.lit(t)))
            & (
                ub.cast("double") / (F.col("na") + F.col("nb") - ub)
                >= F.lit(t)
            )
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .repartition(par, "id_a", "id_b")
        .distinct()
    )
    return grams, inv, gdf, cands


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.85,
    char_k: int = 5,
    refine: str = "auto",
    max_df_permille: int | None = None,
) -> DataFrame:
    """EXACT character-k-gram containment pairs
    (inner_id, outer_id, containment float) with
    C(A,B) = |A∩B| / |A| ≥ threshold, where A is the smaller gram set
    (ties broken by id) — the asymmetric complement of
    :func:`jaccard_pairs`: catches a short document wholly embedded
    in a longer one (quotes, boilerplate, subset crawls), which
    symmetric Jaccard scores low.

    Shape: prefix filter on the CONTAINED side only — A must share
    one of its ⌈(1−t)·|A|⌉+1 rarest grams with B (if all of A's
    prefix grams miss B, fewer than t·|A| grams can intersect), so
    the inner side is prefix-pruned while the outer side keeps its
    full posting list; exact refine via the same dual physical path
    as :func:`jaccard_pairs` — broadcast :func:`bitmap_sets` bitmaps
    while |corpus| × ⌈|vocab|/64⌉ longs fit
    :data:`_BITMAP_REFINE_MAX_WORDS`, shuffle joins +
    ``array_intersect`` past it (``refine=`` "auto"/"bitmap"/
    "shuffle"; both paths pinned exact by the parametrized property
    fuzz). Containment has NO upper size-ratio bound, so candidate
    fan-out is larger than the Jaccard twin's — the 100 TB answer is
    the gram document-frequency cap: ``max_df_permille=P`` DROPS
    every gram appearing in more than P‰ of documents from the gram
    universe (both sides, numerator AND denominator — a stated
    semantics knob, not an approximation of uncapped containment:
    C is computed exactly over the capped gram space, and documents
    whose capped gram set is empty are excluded). The predicate is
    exact-integer (1000·df ≤ P·ndocs), so an oracle can mirror it
    byte-for-byte. High-df grams are precisely the posting lists
    that blow up the candidate join AND carry the least evidence of
    containment (boilerplate n-grams), so the cap converts the
    quadratic hot keys into a bounded fan-out: every surviving
    posting list is ≤ P‰ of the corpus. Driver-side state: two or
    three scalar collects (max gram id, corpus count, and with the
    cap the pre-cap doc count). Fault-tolerance note: the gram-set
    stage is
    ``localCheckpoint``-ed — same immediate-job / truncated-lineage
    trade as :func:`jaccard_pairs`; materialize the gram stage
    upstream if recomputation-on-loss matters. Same memo contract
    too (:func:`_stage_memo`).

    >>> containment_pairs(docs, "pk", "body", threshold=0.9)
    """
    t = threshold
    grams, inv, gdf, cands = _containment_parts(
        df, id_col, text_col, t, char_k, max_df_permille=max_df_permille
    )
    if refine not in ("auto", "arrow", "bitmap", "shuffle"):
        raise ValueError(
            f"refine must be auto|arrow|bitmap|shuffle, got {refine!r}"
        )
    sized = None
    if refine in ("auto", "arrow", "bitmap"):
        gid = encode_ids(gdf, "_cp_g", out="_cp_gid")
        max_gid = gid.agg(F.max("_cp_gid")).first()[0]
        n_chunks = ((max_gid if max_gid is not None else 0) + 64) // 64
        if refine == "auto":
            refine = (
                "arrow"
                if grams.count() * n_chunks <= _BITMAP_REFINE_MAX_WORDS
                else "shuffle"
            )
    if refine in ("arrow", "bitmap"):
        bitmaps = bitmap_sets(
            inv.join(F.broadcast(gid), "_cp_g"), id_col, "_cp_gid", n_chunks
        )
    if refine == "arrow":
        arrow = _bitmap_arrow_refine(
            cands,
            bitmaps.withColumnRenamed(id_col, "_cp_bid"),
            id_col="_cp_bid",
            a_col="inner_id",
            b_col="outer_id",
            n_chunks=n_chunks,
        )
        if arrow is not None:
            # set sizes ride along from the same bitmap table
            # (popcount == |gram set| by construction), so the two
            # 1:1 size joins below are unnecessary on this path
            sized = arrow.select(
                "inner_id",
                "outer_id",
                F.col("_ni").alias("_cp_ni"),
                F.col("_na").alias("na"),
                F.col("_nb").alias("nb"),
            )
        else:
            refine = "bitmap"  # id-space gate failed: join path
    if sized is None and refine == "bitmap":
        ba = bitmaps.select(
            F.col(id_col).alias("inner_id"), F.col("bm").alias("_cp_bm_a")
        )
        bb = bitmaps.select(
            F.col(id_col).alias("outer_id"), F.col("bm").alias("_cp_bm_b")
        )
        inter = (
            cands.join(F.broadcast(ba), "inner_id")
            .join(F.broadcast(bb), "outer_id")
            .withColumn(
                "_cp_ni", bitmap_intersect_count("_cp_bm_a", "_cp_bm_b")
            )
            .select("inner_id", "outer_id", "_cp_ni")
        )
    elif sized is None:
        ga = grams.select(
            F.col(id_col).alias("inner_id"), F.col("gs").alias("_cp_gs_a")
        )
        gb = grams.select(
            F.col(id_col).alias("outer_id"), F.col("gs").alias("_cp_gs_b")
        )
        inter = (
            cands.join(ga, "inner_id")
            .join(gb, "outer_id")
            .withColumn(
                "_cp_ni", F.size(F.array_intersect("_cp_gs_a", "_cp_gs_b"))
            )
            .select("inner_id", "outer_id", "_cp_ni")
        )
    if sized is None:
        sizes = grams.select(id_col, F.size("gs").alias("_cp_sz"))
        sized = inter.join(
            sizes.select(
                F.col(id_col).alias("inner_id"), F.col("_cp_sz").alias("na")
            ),
            "inner_id",
        ).join(
            sizes.select(
                F.col(id_col).alias("outer_id"), F.col("_cp_sz").alias("nb")
            ),
            "outer_id",
        )
    return (
        sized.withColumn(
            "_cp_r", F.col("_cp_ni").cast("double") / F.col("na")
        )
        .withColumn("containment", F.col("_cp_r").cast("float"))
        .where(
            (F.col("_cp_r") >= t)
            & (
                (F.col("na") < F.col("nb"))
                | (
                    (F.col("na") == F.col("nb"))
                    & (F.col("inner_id") < F.col("outer_id"))
                )
            )
        )
        .select("inner_id", "outer_id", "containment")
    )


def _containment_parts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t: float,
    char_k: int,
    max_df_permille: int | None = None,
):
    """Candidate stage of :func:`containment_pairs`, shared with the
    candidate-volume plan guard. Returns (grams, inv, gdf, cands).

    With ``max_df_permille=P`` the gram universe is first capped to
    grams whose document frequency satisfies 1000·df ≤ P·ndocs (an
    exact-integer predicate an oracle can mirror); per-doc gram sets
    are rebuilt over the capped vocabulary (sort_array(collect_set)
    keeps the array canonical) and docs left with no grams drop out.
    The cap is the published web-dedup fan-out bound: no surviving
    posting list exceeds P‰ of the corpus, so the prefix×posting
    candidate join has bounded per-key fan-out at any corpus size."""
    # memoized checkpoint, shared with the jaccard twin, so in a full
    # suite run only the first of the two pays the corpus gram map.
    # With the cap there is a SECOND checkpoint below, and it earns its
    # keep (measured at sf0.1): the capped rebuild is consumed twice
    # (df count + posting rebuild), and checkpointing turns both
    # consumers into ~1 s scans.
    grams = _staged_sets(char_gram_sets, df, id_col, text_col, char_k)
    par = df.sparkSession.sparkContext.defaultParallelism
    if max_df_permille is not None:
        ndocs = grams.count()
        inv0 = grams.select(id_col, F.explode("gs").alias("_cp_g"))
        # vocab is tiny relative to postings (distinct k-grams):
        # the kept-gram list broadcasts
        keep = (
            inv0.groupBy("_cp_g")
            .agg(F.count(F.lit(1)).alias("_cp_df"))
            .where(F.col("_cp_df") * 1000 <= F.lit(max_df_permille * ndocs))
            .select("_cp_g")
        )
        grams = (
            inv0.join(F.broadcast(keep), "_cp_g")
            .repartition(par, id_col)
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_set("_cp_g")).alias("gs"))
            .localCheckpoint(eager=True)
        )
    inv = grams.select(
        id_col, F.size("gs").alias("_cp_n"), F.explode("gs").alias("_cp_g")
    )
    gdf = inv.groupBy("_cp_g").agg(F.count(F.lit(1)).alias("_cp_gdf"))
    wg = Window.partitionBy(id_col).orderBy("_cp_gdf", "_cp_g")
    ranked = inv.join(F.broadcast(gdf), "_cp_g").withColumn(
        "_cp_rk", F.row_number().over(wg)
    )
    prefix = ranked.filter(
        F.col("_cp_rk") <= F.ceil(F.lit(1.0 - t) * F.col("_cp_n")) + 2
    ).select(
        F.col(id_col).alias("inner_id"),
        F.col("_cp_n").alias("_cp_na"),
        F.col("_cp_rk").alias("_cp_ra"),
        "_cp_g",
    )
    full_b = ranked.select(
        F.col(id_col).alias("outer_id"),
        F.col("_cp_n").alias("_cp_nb"),
        F.col("_cp_rk").alias("_cp_rb"),
        "_cp_g",
    )
    # Lossless candidate pruning (all three applied before the
    # pair-level aggregate):
    # 1. orientation — the final result only keeps pairs whose inner
    #    side is the SMALLER gram set (ties by id), and the prefix
    #    theorem is applied to that inner side, so candidates with
    #    the prefix on the larger side can never surface;
    # 2. per-gram GENERALIZED positional filter: for ANY shared gram
    #    g at ranks (ra, rb), overlap ≤ min(ra−1, rb−1) + 1 +
    #    min(na−ra, nb−rb) — shared-before plus g plus shared-after.
    #    (The familiar 1 + min(remainders) is the first-shared-gram
    #    special case; the general form is needed because filter 3
    #    counts SURVIVING rows, and for a true pair EVERY shared
    #    prefix row must survive or the count under-reports.) The
    #    bound is tested in the SAME divide-form as the final
    #    C = n_inter/|A| ≥ t filter, so double rounding cannot drop
    #    a surviving pair;
    # 3. common-count filter (PPJoin's count bound): a pair with
    #    n_inter ≥ t·na misses at most ⌊(1−t)·na⌋+1 of A's grams
    #    (+1 absorbs double slop in (1−t)·na), so it must share at
    #    least min(prefix_len, na) − ⌊(1−t)·na⌋ − 1 grams of A's
    #    prefix — ≥ 2 for large docs, which on rare-gram-heavy
    #    corpora prunes far more than "shares ≥ 1" does.
    p_eff = F.least(
        F.ceil(F.lit(1.0 - t) * F.col("_cp_na")) + 2, F.col("_cp_na")
    )
    required = F.greatest(
        F.lit(1),
        p_eff - (F.floor(F.lit(1.0 - t) * F.col("_cp_na")) + 1),
    )
    # explicit-width repartitions (REPARTITION_BY_NUM — AQE will NOT
    # re-coalesce them): the posting join and the pair aggregate are
    # CPU-heavy but byte-light (narrow int rows), so byte-targeted
    # AQE coalescing squeezed them onto ~3 tasks at sf0.1 — the
    # round-10 sim's 26 s hot line. Pinning the join and the pair
    # reduce at defaultParallelism keeps every core on the popcount/
    # filter work; the hash distribution on (join key / pair key)
    # satisfies the downstream requirement, so no extra exchange is
    # introduced.
    cands = (
        prefix.repartition(par, "_cp_g")
        .join(full_b.repartition(par, "_cp_g"), "_cp_g")
        .where(
            (F.col("_cp_na") < F.col("_cp_nb"))
            | (
                (F.col("_cp_na") == F.col("_cp_nb"))
                & (F.col("inner_id") < F.col("outer_id"))
            )
        )
        .where(
            (
                F.least(F.col("_cp_ra") - 1, F.col("_cp_rb") - 1)
                + 1
                + F.least(
                    F.col("_cp_na") - F.col("_cp_ra"),
                    F.col("_cp_nb") - F.col("_cp_rb"),
                )
            ).cast("double")
            / F.col("_cp_na")
            >= t
        )
        .repartition(par, "inner_id", "outer_id")
        .groupBy("inner_id", "outer_id", "_cp_na")
        .agg(F.count(F.lit(1)).alias("_cp_c"))
        .where(F.col("_cp_c") >= required)
        .select("inner_id", "outer_id")
    )
    return grams, inv, gdf, cands


def concurrency_sweep(
    df: DataFrame,
    start_col: str,
    end_col: str,
    partition_cols: Sequence[str] = (),
    out: str = "concurrency",
) -> DataFrame:
    """Sweep-line interval concurrency: one row per DISTINCT boundary
    instant (columns: partition_cols, t, ``out``) where ``out`` is the
    number of intervals [start, end) covering the instant just after
    t. Coincident boundaries collapse into one net delta per instant
    BEFORE the prefix sum, so half-open semantics hold exactly (an
    end plus a coincident start cancel; a zero-length interval is a
    net no-op) and no transient tie-order value ever surfaces. Peak
    load per bucket is then one groupBy away::

        concurrency_sweep(sess, "login", "logout", ["server"])
          .groupBy("server", F.date_trunc("hour", "t"))
          .agg(F.max("concurrency"))

    Scale shape: a naive global prefix sum is a single-partition
    window. This runs TWO-PHASE — running sum within each (partition,
    calendar-day-of-boundary) block, a partitioned window — plus the
    carry-in of all earlier blocks. With ``partition_cols`` the
    carry-in is itself a partitioned window over per-block totals
    (nothing driver-side); without keys the per-day totals are a tiny
    driver collect (one row per day — the same split-point-probe
    budget the exact_global ranking cores use) so that no stage ever
    serializes on one task. Correctness does not require intervals to
    stay inside a day: boundary POINTS are blocked, not intervals,
    and the carry-in restores the global sum.
    """
    keys = list(partition_cols)
    raw = df.select(
        *keys, F.col(start_col).alias("t"), F.lit(1).alias("_cs_d")
    ).unionAll(
        df.select(*keys, F.col(end_col).alias("t"), F.lit(-1).alias("_cs_d"))
    )
    # collapse coincident boundaries: one net delta per distinct instant
    # (map-side-combined — this is also what keeps the windowed row
    # count at |distinct instants|, not 2·|intervals|)
    pts = raw.groupBy(*keys, "t").agg(F.sum("_cs_d").alias("_cs_d"))
    blk = F.to_date("t").alias("_cs_blk")
    w_in = Window.partitionBy(*keys, "_cs_blk").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    within = pts.select(*keys, "t", "_cs_d", blk).withColumn(
        "_cs_in", F.sum("_cs_d").over(w_in)
    )
    totals = (
        pts.select(*keys, blk, "_cs_d")
        .groupBy(*keys, "_cs_blk")
        .agg(F.sum("_cs_d").alias("_cs_tot"))
    )
    if keys:
        w_blk = Window.partitionBy(*keys).orderBy("_cs_blk").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = totals.withColumn(
            "_cs_off", F.coalesce(F.sum("_cs_tot").over(w_blk), F.lit(0))
        ).select(*keys, "_cs_blk", "_cs_off")
        swept = within.join(offs, [*keys, "_cs_blk"])
    else:
        day_tot = sorted(
            (r["_cs_blk"], r["_cs_tot"]) for r in totals.collect()
        )
        offsets, running = {}, 0
        for day, tot in day_tot:
            offsets[day] = running
            running += tot
        if offsets:
            pairs = []
            for day, off in offsets.items():
                pairs.extend([F.lit(day), F.lit(off)])
            off_col = F.create_map(*pairs)[F.col("_cs_blk")]
        else:
            off_col = F.lit(0)
        swept = within.withColumn("_cs_off", off_col)
    return swept.select(
        *keys,
        "t",
        (F.col("_cs_in") + F.col("_cs_off")).cast("long").alias(out),
    )


#: bitmap-path switch for :func:`triangle_count`: the broadcast
#: successor-bitmap table is ≤ |V|·⌈|V|/64⌉ longs; past this budget
#: (2²² longs = 32 MiB — the :data:`_BITMAP_REFINE_MAX_WORDS` budget,
#: reached near |V| ≈ 16k) the dense formulation stops being a
#: broadcast and :func:`triangle_count` auto-switches to the
#: degree-ordered orientation edge join (no broadcast, no O(|V|)-wide
#: rows — the sparse/billion-node path).
_TRIANGLE_BITMAP_MAX_WORDS = 1 << 22


def _triangle_count_oriented(e: DataFrame) -> int:
    """Sparse-path EXACT triangle count on a normalized edge list
    (``_tc_u < _tc_v``, distinct): degree-ordered orientation
    (Chiba-Nishizeki / Latapy node-iterator-++). Orient every edge
    from its lower-(degree, id) endpoint to the higher; enumerate
    out-wedges (s→v, s→w with (d_v,v) < (d_w,w)) and close them
    against the oriented edge set with an equi-join on (v, w). Each
    triangle is counted exactly once (at its minimum-(degree, id)
    corner), out-degrees are bounded by O(√E), so the wedge fan-out
    is O(E^1.5) rows — three shuffles (degree reduce, wedge
    self-join, closing join), no broadcast of anything O(|V|),
    driver-side state one scalar. The (degree, id) order is realized
    as a lexicographic STRUCT comparison, so ids need not be dense —
    no :func:`encode_ids` pass on this path."""
    deg = (
        e.select(F.col("_tc_u").alias("_tc_n"))
        .unionAll(e.select(F.col("_tc_v").alias("_tc_n")))
        .groupBy("_tc_n")
        .agg(F.count(F.lit(1)).alias("_tc_d"))
    )
    du = deg.select(
        F.col("_tc_n").alias("_tc_u"), F.col("_tc_d").alias("_tc_du")
    )
    dv = deg.select(
        F.col("_tc_n").alias("_tc_v"), F.col("_tc_d").alias("_tc_dv")
    )
    ed = e.join(du, "_tc_u").join(dv, "_tc_v")
    u_first = F.struct(F.col("_tc_du"), F.col("_tc_u")) < F.struct(
        F.col("_tc_dv"), F.col("_tc_v")
    )
    orient = ed.select(
        F.when(u_first, F.col("_tc_u")).otherwise(F.col("_tc_v")).alias("_tc_s"),
        F.when(u_first, F.col("_tc_v")).otherwise(F.col("_tc_u")).alias("_tc_t"),
        F.when(u_first, F.col("_tc_dv")).otherwise(F.col("_tc_du")).alias("_tc_dt"),
    )
    wa = orient.select(
        "_tc_s", F.col("_tc_t").alias("_tc_wv"), F.col("_tc_dt").alias("_tc_wdv")
    )
    wb = orient.select(
        "_tc_s", F.col("_tc_t").alias("_tc_ww"), F.col("_tc_dt").alias("_tc_wdw")
    )
    wedges = (
        wa.join(wb, "_tc_s")
        .filter(
            F.struct(F.col("_tc_wdv"), F.col("_tc_wv"))
            < F.struct(F.col("_tc_wdw"), F.col("_tc_ww"))
        )
        .select(F.col("_tc_wv").alias("_tc_cv"), F.col("_tc_ww").alias("_tc_cw"))
    )
    closing = orient.select(
        F.col("_tc_s").alias("_tc_cv"), F.col("_tc_t").alias("_tc_cw")
    )
    return int(wedges.join(closing, ["_tc_cv", "_tc_cw"]).count())


def triangle_count(edges: DataFrame, src: str, dst: str) -> int:
    """EXACT triangle count of an undirected simple graph given as an
    edge list (self-loops and duplicate/reverse edges are normalized
    away). Two formulations, auto-switched on the broadcast budget
    :data:`_TRIANGLE_BITMAP_MAX_WORDS` (the jaccard/containment
    refine-switch device):

    - dense path (|V|·⌈|V|/64⌉ longs within budget, |V| ≲ 16k):
      each triangle {a<b<c} counted once as Σ over oriented edges
      (u,v), u<v, of |N⁺(u) ∩ N⁺(v)| on dictionary-encoded successor
      bitmaps (:func:`bitmap_sets`) — ~|E|·(|V|/64) AND+popcount ops,
      bitmap table broadcast;
    - sparse path (past the budget): the degree-ordered orientation
      edge join (:func:`_triangle_count_oriented`) — O(E^1.5) wedge
      fan-out, equi-joins only, NOTHING broadcast or O(|V|)-wide, so
      it scales to billion-node graphs where the bitmap table
      (≈ 1.25 GB at 100k nodes) would kill the broadcast.

    The two formulations are proven equal by a property test on
    generated graphs spanning the switch point
    (tests/test_properties.py::test_triangle_count_formulations_agree).
    Returns a Python int (one aggregate action); driver-side state
    is two scalars.

    >>> triangle_count(pairs, "id_a", "id_b")
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("_tc_u"),
        F.greatest(F.col(src), F.col(dst)).alias("_tc_v"),
    ).filter(F.col("_tc_u") < F.col("_tc_v")).distinct()
    # gate on the raw node count (one countDistinct action) so the
    # sparse path never pays the encode_ids |V|-shuffle; dense ids
    # overshoot |V| by ≤ ~10% bucket imbalance, comfortably inside
    # the order-of-magnitude the budget constant expresses
    n_nodes = (
        e.select(F.col("_tc_u").alias("_tc_n"))
        .union(e.select(F.col("_tc_v").alias("_tc_n")))
        .distinct()
        .count()
    )
    if n_nodes == 0:
        return 0
    if n_nodes * (n_nodes // 64 + 1) > _TRIANGLE_BITMAP_MAX_WORDS:
        return _triangle_count_oriented(e)
    nid = encode_ids(
        e.select(F.col("_tc_u").alias("_tc_n"))
        .union(e.select(F.col("_tc_v").alias("_tc_n"))),
        "_tc_n",
        out="_tc_id",
    )
    max_nid = nid.agg(F.max("_tc_id")).first()[0]
    if max_nid is None:
        return 0
    n_chunks = max_nid // 64 + 1
    bitmaps = bitmap_sets(
        e.join(F.broadcast(nid), e["_tc_v"] == nid["_tc_n"]),
        "_tc_u",
        "_tc_id",
        n_chunks,
    )
    bu = bitmaps.select(F.col("_tc_u").alias("_tc_ku"), F.col("bm").alias("_tc_bm_u"))
    bv = bitmaps.select(F.col("_tc_u").alias("_tc_kv"), F.col("bm").alias("_tc_bm_v"))
    tri = (
        e.join(F.broadcast(bu), e["_tc_u"] == bu["_tc_ku"])
        # a max-id node has no successors, hence no bitmap row — left
        # join + zero bitmap so its edges still count
        .join(F.broadcast(bv), e["_tc_v"] == bv["_tc_kv"], "left")
        .withColumn(
            "_tc_bm_v",
            F.coalesce(
                F.col("_tc_bm_v"),
                F.array_repeat(F.lit(0).cast("long"), n_chunks),
            ),
        )
        .select(bitmap_intersect_count("_tc_bm_u", "_tc_bm_v").alias("_tc_c"))
        .agg(F.sum("_tc_c"))
        .first()[0]
    )
    return int(tri or 0)


def dedup_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 10,
    min_docs: int = 2,
    out: str = "clean_text",
) -> DataFrame:
    """Chunk-level CROSS-document dedup with rewrite — the C4/CCNet
    line-dedup analog: split each document into consecutive
    ``chunk_tokens``-token chunks, call a chunk duplicated when it
    appears in ≥ ``min_docs`` DISTINCT documents, and return
    (id_col, ``out``, n_chunks, n_dup_chunks) where ``out`` is the
    document rebuilt from only its retained chunks (original chunk
    order; empty string when everything was boilerplate). This
    removes boilerplate shared ACROSS pages that document-level
    near-dup (jaccard/minhash) keeps twice.

    Shape: map-side chunk explode with position → chunk-keyed
    count-distinct (map-side combined) → join back → per-doc ordered
    reassembly (collect_list of (pos, chunk) + array_sort, bounded by
    tokens-per-doc). The chunk key is an ordinary shuffle key at any
    scale; cap chunk document frequency for web-scale skew the same
    way gram-DF caps bound the near-dup joins.

    >>> dedup_chunks(docs, "pk", "body", chunk_tokens=20)
    """
    toks = F.split(text_col, " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    chunks = df.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        ).alias("_dc_i", "_dc_chunk"),
    )
    freq = chunks.groupBy("_dc_chunk").agg(
        F.count_distinct(id_col).alias("_dc_nd")
    )
    joined = chunks.join(freq, "_dc_chunk")
    keep = F.col("_dc_nd") < min_docs
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(~keep, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.array_sort(
                F.collect_list(
                    F.when(keep, F.struct("_dc_i", "_dc_chunk"))
                )
            ).alias("_dc_kept"),
        )
        .withColumn(
            out,
            F.array_join(
                F.transform(F.col("_dc_kept"), lambda s: s["_dc_chunk"]),
                " ",
            ),
        )
        .select(id_col, out, "n_chunks", "n_dup_chunks")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    hamming_max: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming int) — the
    cheapest near-dup family at corpus scale: each document collapses
    to ONE 64-bit fingerprint (sign of the per-bit vote over token
    xxhash64 values), so a 600-byte document becomes 8 bytes of
    state. Candidates = equal ``64/n_bands``-bit fingerprint band
    (the classic Manku/Jain/Sarma web-dedup blocking — complete for
    Hamming distance < n_bands by pigeonhole; the default 4 bands of
    16 bits is exact for distance ≤ 3 and high-recall heuristic up to
    ``hamming_max``), refined by true Hamming distance ≤ hamming_max.

    Note the fingerprints derive from Spark's xxhash64 — results are
    engine-reproducible but have no cross-engine twin; calibrate
    thresholds against :func:`jaccard_pairs` on a sample.

    >>> simhash_pairs(docs, "pk", "body", hamming_max=6)
    """
    cands = _staged_simhash_parts(df, id_col, text_col, n_bands)
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("_sh_fp_a").bitwiseXOR(F.col("_sh_fp_b"))),
        )
        .filter(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming")
    )


def _staged_simhash_parts(
    df: DataFrame, id_col: str, text_col: str, n_bands: int
) -> DataFrame:
    """Memoized :func:`_simhash_parts` candidate pair list (see
    :func:`_stage_memo`)."""
    return _stage_memo(
        "simhash",
        [df],
        (id_col, text_col, n_bands),
        lambda: _simhash_parts(df, id_col, text_col, n_bands).localCheckpoint(
            eager=True
        ),
    )


def _simhash_parts(
    df: DataFrame, id_col: str, text_col: str, n_bands: int
) -> DataFrame:
    """Candidate stage of :func:`simhash_pairs` (band-equality join,
    pre-Hamming refine), shared with the candidate-volume plan
    guard."""
    assert 64 % n_bands == 0, "band width must divide 64"
    width = 64 // n_bands
    mask = (1 << width) - 1
    toks = df.select(id_col, F.explode(F.split(text_col, " ")).alias("_sh_t"))
    h = toks.withColumn("_sh_h", F.xxhash64("_sh_t"))

    def bit(i):
        # 1<<63 overflows a JVM long literal; shiftleft computes it
        return F.shiftleft(F.lit(1).cast("long"), i)

    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("_sh_h").bitwiseAND(bit(i)) != 0, 1).otherwise(-1)
            ).alias(f"_sh_b{i}")
            for i in range(64)
        ]
    )
    fp = votes.select(
        id_col,
        sum(
            [
                F.when(F.col(f"_sh_b{i}") > 0, bit(i)).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(64)
            ],
            F.lit(0).cast("long"),
        )
        .cast("long")
        .alias("_sh_fp"),
    )
    bands = fp.select(
        id_col,
        "_sh_fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("_sh_fp", width * b).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_sh_band", "_sh_bv"),
    )
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh_fp").alias("_sh_fp_a"),
        "_sh_band",
        F.col("_sh_bv").alias("_sh_bv_a"),
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh_fp").alias("_sh_fp_b"),
        F.col("_sh_band").alias("_sh_band_b"),
        F.col("_sh_bv").alias("_sh_bv_b"),
    )
    cands = (
        a.join(
            b,
            (F.col("_sh_band") == F.col("_sh_band_b"))
            & (F.col("_sh_bv_a") == F.col("_sh_bv_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "_sh_fp_a", "_sh_fp_b")
        .distinct()
    )
    return cands


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def _principal_directions(base: DataFrame, k: int):
    """Top-k orthonormal directions of the unit-normalized vectors in
    ``base`` (columns ``_cp_e`` array<double>, ``nrm``) — eigenvectors
    of the UNCENTERED second-moment matrix E[v̂v̂ᵀ], the
    variance-maximizing axes the grid and sum-of-squares prefilter of
    :func:`cosine_pairs` project onto.

    Distributed shape: a vectorized ``mapInPandas`` kernel emits one
    partial d×d moment matrix per Arrow batch (numpy ``VᵀV`` — O(n·d²)
    flops, all executor-side), partials are reduced by an ordinary
    ``groupBy(pos).sum`` shuffle, and ONLY the d² reduced entries
    (64-dim → 4,096 doubles) reach the driver for the eigh — bounded
    by the vector width, never by the row count, so the same plan
    holds at 100 TB. Rows with zero/non-finite norm are skipped (they
    cannot join anyway — their cells are NULL). The direction CHOICE
    only steers pruning power; correctness never depends on it
    (Bessel holds for every orthonormal set), so float jitter in the
    eigh is harmless. Returns a (k_eff, d) numpy array of orthonormal
    rows, or None when the input is empty."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        for pdf in batches:
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["_cp_e"]]
            )
            if V.size == 0:
                continue
            n = np.linalg.norm(V, axis=1)
            ok = np.isfinite(n) & (n > 0)
            if not ok.any():
                continue
            Vn = V[ok] / n[ok, None]
            M = Vn.T @ Vn
            yield pd.DataFrame({"mom": [M.ravel().tolist()]})

    partials = base.select("_cp_e").mapInPandas(moments, "mom array<double>")
    reduced = (
        partials.select(F.posexplode("mom").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        # bounded driver collect: exactly d² rows (the reduced moment
        # matrix — 64-dim vectors → 4,096 doubles), independent of n
        .collect()
    )
    if not reduced:
        return None
    flat = np.zeros(len(reduced))
    for r in reduced:
        flat[r["pos"]] = r["s"]
    d = int(round(len(flat) ** 0.5))
    M = flat.reshape(d, d)
    w, U = np.linalg.eigh(M)
    return np.ascontiguousarray(U[:, ::-1][:, : min(k, d)].T)


def _staged_cosine_parts(
    df: DataFrame, id_col: str, vec_col: str, tau: float, k: int = 16
):
    """Memoized :func:`_cosine_parts` (see :func:`_stage_memo`): the
    surviving candidate id pairs are checkpointed once per (embedding
    plan, tau, k). Returns (base, cands)."""

    def build():
        base, cands = _cosine_parts(df, id_col, vec_col, tau, k)
        return base, cands.localCheckpoint(eager=True)

    return _stage_memo("cosine", [df], (id_col, vec_col, tau, k), build)


def _cosine_parts(
    df: DataFrame, id_col: str, vec_col: str, tau: float, k: int = 16
):
    """Candidate stage of :func:`cosine_pairs`, shared with the
    candidate-volume plan guard (tests/test_properties.py) so the
    guard measures the REAL stage, not a replica. Returns
    (base, cands) where ``base`` is (_cp_id, _cp_e, nrm) and ``cands``
    is the (id_a, id_b) pair set surviving the grid join and the
    sum-of-squares prefilter — before any O(dim) dot product."""
    import math

    delta = math.sqrt(max(2.0 - 2.0 * tau, 1e-12))
    w = delta * 1.01
    # float-slack margin on the Bessel bound: strictly MORE permissive
    # than the exact inequality, so rounding in the projections can
    # only add candidates (killed by the exact refine), never drop one
    delta2 = (delta * delta) * (1.0 + 1e-9) + 1e-12
    # localCheckpoint, not cache(): referenced by the moment pass, the
    # candidate grid AND the verify join-back; checkpoint blocks are
    # released by the ContextCleaner on GC instead of pinning executor
    # storage for the session. Trade-off (documented in cosine_pairs):
    # lineage is truncated, so losing an executor mid-query fails the
    # query instead of recomputing the normalize step.
    # hash-repartition by id BEFORE the checkpoint: the grid cell key
    # has few distinct values on isotropic data (the whole corpus can
    # land in a handful of cells), so downstream parallelism must come
    # from the base partitioning, not the join key — one cheap shuffle
    # of the narrow (id, vec) table spreads the moment pass, the
    # cell-join probe side and both verify joins across the cluster
    base = (
        df.select(F.col(id_col).alias("_cp_id"), F.col(vec_col).alias("_cp_e"))
        .repartition("_cp_id")
        .withColumn("nrm", vec_norm("_cp_e"))
        .localCheckpoint(eager=True)
    )
    U = _principal_directions(base, k)
    if U is None:
        U = [[1.0]]  # empty input: any direction works on zero rows
    dirs = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in U]
    )
    proj = F.transform(
        dirs,
        lambda u: F.aggregate(
            F.zip_with("_cp_e", u, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.col("nrm"),
    )
    i2 = 1 if len(U) > 1 else 0
    kk = len(U)
    # the k projections are UNPACKED into scalar columns: the
    # sum-of-squares compare below then stays inside whole-stage
    # codegen (higher-order zip_with/aggregate are interpreted with a
    # per-row array alloc — ruinous at millions of join rows), and the
    # O(k·dim) projection itself is evaluated once per VECTOR, not per
    # candidate
    cells = base.withColumn("p", proj).select(
        "_cp_id",
        F.floor(F.col("p")[0] / w).cast("int").alias("c1"),
        F.floor(F.col("p")[i2] / w).cast("int").alias("c2"),
        *[F.col("p")[m].alias(f"_cp_p{m}") for m in range(kk)],
    )
    a = cells.select(
        F.col("_cp_id").alias("id_a"),
        "c1",
        "c2",
        *[F.col(f"_cp_p{m}").alias(f"_cp_a{m}") for m in range(kk)],
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    b = (
        cells.withColumn("d1", F.explode(off))
        .withColumn("d2", F.explode(off))
        .select(
            F.col("_cp_id").alias("id_b"),
            (F.col("c1") + F.col("d1")).alias("c1"),
            (F.col("c2") + F.col("d2")).alias("c2"),
            *[F.col(f"_cp_p{m}").alias(f"_cp_b{m}") for m in range(kk)],
        )
    )
    # sum-of-squares prefilter: for ANY orthonormal {u_m}, Bessel gives
    # Σ_m ⟨â−b̂,u_m⟩² ≤ ‖â−b̂‖² ≤ δ², so a qualifying pair can never
    # exceed δ² across the k projection axes — one codegen'd O(k)
    # compare per join row (ids + k doubles, no vectors travel through
    # the join)
    diffs = [
        (F.col(f"_cp_a{m}") - F.col(f"_cp_b{m}"))
        * (F.col(f"_cp_a{m}") - F.col(f"_cp_b{m}"))
        for m in range(kk)
    ]
    sos = diffs[0]
    for dterm in diffs[1:]:
        sos = sos + dterm
    cands = (
        a.join(b, ["c1", "c2"])
        .filter((F.col("id_a") < F.col("id_b")) & (sos <= F.lit(delta2)))
        .select("id_a", "id_b")
    )
    return base, cands


def cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, tau: float, *, k: int = 16
) -> DataFrame:
    """ALL pairs (id_a, id_b, cos float) with cosine ≥ tau — EXACT,
    found via a lossless grid equi-join plus a k-projection
    sum-of-squares prefilter instead of an all-pairs cross join.
    Vectors are array<double>.

    Math: cos ≥ τ ⇔ the unit-normalized difference is within
    δ = √(2−2τ). Each vector is projected onto the top-``k``
    data-dependent orthonormal directions (eigenvectors of the
    distributed second-moment matrix — :func:`_principal_directions`);
    the two highest-variance axes grid the space (cell width δ·1.01,
    3×3 neighbor replication of one side — a's cell is unique per
    vector, so each pair matches exactly one of b's 9 replicas and no
    post-join dedup is needed), and Bessel's inequality
    Σ_m ⟨â−b̂,u_m⟩² ≤ ‖â−b̂‖² ≤ δ² prunes join rows with an O(k)
    compare BEFORE any O(dim) work: each extra orthonormal axis
    multiplies pruning (random 64-dim pairs at τ=0.9 pass a 2-axis
    test ~84% of the time but a 16-axis test ~0.1%). Only surviving
    (id_a, id_b) pairs re-join the vector table for the exact dot
    product, so the candidate join shuffles ids + k floats, never the
    vectors. Property tests assert grid == brute force on random
    vectors; the candidate-volume guard bounds survivors on the
    fixture corpus AND on an adversarial seeded ISOTROPIC corpus
    (test_cosine_candidate_bound_isotropic), where the grid cells
    collapse and pruning is the SOS bound alone — measured 0.34% of
    all-pairs on the clustered sf0.1 fixture and 0.35% on the
    isotropic one, both asserted ≤5%. If a future corpus defeats the
    SOS bound, the upgrade path is L2AP/AllPairs coordinate prefix
    filtering (Bayardo et al. WWW'07; Anastasiu & Karypis ICDE'14).

    Driver-side state: one bounded collect of the d² reduced moment
    entries (NOT data rows — see :func:`_principal_directions`).
    Fault-tolerance note: the normalized base is localCheckpoint-ed
    (lineage truncated, storage GC-managed); an executor loss mid-query
    fails the query rather than recomputing — at 100 TB prefer an
    upstream materialized normalize step if recomputation matters.

    >>> cosine_pairs(emb, "vec_id", "embedding_f64", tau=0.9)
    """
    base, cands = _staged_cosine_parts(df, id_col, vec_col, tau, k)
    va = base.select(
        F.col("_cp_id").alias("id_a"),
        F.col("_cp_e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = base.select(
        F.col("_cp_id").alias("id_b"),
        F.col("_cp_e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", dot("ea", "eb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= F.lit(tau))
        .select("id_a", "id_b", F.col("cos").cast("float").alias("cos"))
    )


def canonical_url(url) -> Column:
    """RFC-3986-style canonical URL as pure column algebra (map-only,
    JVM-side — no UDF): lowercases scheme/host, strips the fragment,
    a :80 default port, a www. prefix and the trailing slash, drops
    utm_* tracking parameters and sorts the remaining query params.
    Dedup web-crawl corpora on THIS key before any content hash —
    scheme/host case, ports, fragments and trackers all vary between
    crawls of the same resource.

    >>> docs.withColumn("canon", canonical_url(F.col("url")))
    """
    no_frag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z]+)://", 1))
    rest = F.regexp_replace(no_frag, r"^[A-Za-z]+://", "")
    hostport = F.regexp_extract(rest, r"^([^/?]+)", 1)
    host = F.regexp_replace(
        F.regexp_replace(F.lower(hostport), r":80$", ""), r"^www\.", ""
    )
    pathq = F.regexp_replace(rest, r"^[^/?]+", "")
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/$", ""
    )
    qstr = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qstr, "&"),
            lambda x: (x != "") & ~x.startswith("utm_"),
        )
    )
    query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, query)


def _misra_gries_kernel(key_col: str, counters: int):
    """The per-partition Misra–Gries summary as a mapInPandas kernel:
    ``counters`` slots, decrement-all on overflow, surviving keys out.
    Exposed separately so the superset guarantee is fuzz-testable on
    plain pandas batches (tests/test_hypothesis.py)."""
    import pandas as pd

    def mg(batches):
        tally: dict = {}
        for pdf in batches:
            for k in pdf[key_col]:
                if k in tally:
                    tally[k] += 1
                elif len(tally) < counters:
                    tally[k] = 1
                else:
                    dead = []
                    for c in tally:
                        tally[c] -= 1
                        if tally[c] == 0:
                            dead.append(c)
                    for c in dead:
                        del tally[c]
        yield pd.DataFrame({key_col: list(tally.keys())})

    return mg


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold_denom: int,
    counters: int = 64,
    out: str = "cnt",
) -> DataFrame:
    """EXACT keys with count > n/threshold_denom, found with
    bounded-memory Misra–Gries candidates + an exact refine — the
    100 TB alternative to a full GROUP BY over unbounded key
    cardinality. Pass 1 runs an MG summary with ``counters`` slots
    INSIDE each partition (mapInPandas, O(counters) memory per task no
    matter how many distinct keys stream past); the MG undercount
    bound makes the union of partition survivors a SUPERSET of every
    key with global frequency > n/counters, hence of every key over
    the n/threshold_denom threshold whenever
    ``counters ≥ threshold_denom`` (asserted). Pass 2 exact-counts the
    candidates only (broadcast semi-join) and applies the threshold —
    so the sketch buys per-task memory independence and a
    candidates-only shuffle without giving up exactness. Returns
    (key_col, out).

    >>> heavy_hitters(events, "user_id", threshold_denom=40)
    """
    assert counters >= threshold_denom, (
        "MG superset guarantee needs counters >= threshold_denom"
    )
    ktype = dict(df.dtypes)[key_col]
    mg = _misra_gries_kernel(key_col, counters)
    n_total = df.count()
    cand = df.select(key_col).mapInPandas(mg, f"{key_col} {ktype}").distinct()
    return (
        df.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias(out))
        # cross-multiplied so the threshold decision stays in exact
        # integer arithmetic (cnt > n/denom ⟺ cnt·denom > n): at very
        # large n the double rounding of n/denom could flip an
        # exact-boundary key
        .where(F.col(out) * threshold_denom > F.lit(n_total))
    )


def dataset_split(
    df: DataFrame,
    content_col: str,
    *,
    val_nibbles: Sequence[str] = ("c", "d"),
    test_nibbles: Sequence[str] = ("e", "f"),
    out: str = "split",
) -> DataFrame:
    """Append ``out`` ∈ {train, val, test} by deterministic content
    hash: the first hex nibble of md5(content_col) maps each row into
    16 equal buckets, assigned to splits by the nibble lists (defaults:
    12/2/2 = 75/12.5/12.5%). Content-keyed hashing — not RNG, not row
    position — makes the split reproducible across engines, re-runs,
    repartitions and incremental backfills, and keeps exact duplicates
    in the SAME split (no train/test leakage through dup pairs).
    Map-only; md5 is bit-identical everywhere.

    >>> dataset_split(docs, "text")
    """
    nib = F.substring(F.md5(F.col(content_col)), 1, 1)
    split = (
        F.when(nib.isin(*val_nibbles), "val")
        .when(nib.isin(*test_nibbles), "test")
        .otherwise("train")
    )
    return df.withColumn(out, split)


def tfidf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """TF-IDF over a whitespace-tokenized text column, expressed
    relationally (explode → two aggregates → broadcast join) so every
    value is checkable — unlike HashingTF, which buckets terms by an
    engine hash. Returns (id_col, term, tf, df, tfidf float32);
    smoothed idf = ln((N+1)/(df+1)) + 1. The document-frequency side
    is |vocabulary|-sized and broadcast; the one driver action is the
    scalar document count.

    >>> tfidf(docs, "doc_id", "text")
    """
    toks = df.select(
        id_col, F.explode(F.split(text_col, " ")).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    n_docs = df.count()
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn(
            "tfidf",
            (
                F.col("tf")
                * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).cast("float"),
        )
        .select(id_col, "term", "tf", "df", "tfidf")
    )


# --------------------------------------------------------------------------
# temporal operators Spark lacks natively
# --------------------------------------------------------------------------


def asof_join(
    values: DataFrame,
    probes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    *,
    forward: bool = False,
    out: str = "asof_value",
) -> DataFrame:
    """As-of join via the union+window trick (Spark has no native
    asof): for each probe row, the value of the LATEST values-row
    at-or-before its timestamp (``forward=True``: the EARLIEST
    at-or-after). Inner semantics — probes with no match drop, like
    DuckDB/pandas ASOF JOIN.

    Shape: tag probes, union with values, one window over
    (keys, ts) with `last/first(value ignorenulls)` — ONE shuffle,
    O(1) state per key, no row explosion; the shape that survives
    skew where a range join would explode. ``values`` must carry one
    row per (keys, ts_col) — pre-aggregate ties (e.g. max_by on a
    unique id) so the picked value is deterministic. Backward: probes
    sort AFTER same-ts values (asof `<=`); forward: BEFORE (asof
    `>=`). Returns (keys…, ts_col, out).

    >>> asof_join(quotes, trades, ["symbol"], "ts", "bid")
    """
    keys = list(keys)
    vtype = dict(values.dtypes)[value_col]
    p = probes.select(
        *keys,
        F.col(ts_col).alias(ts_col),
        F.lit(None).cast(vtype).alias(value_col),
        F.lit(1).alias("_asof_probe"),
    )
    v = values.select(*keys, ts_col, value_col).withColumn(
        "_asof_probe", F.lit(0)
    )
    unioned = v.unionByName(p)
    if forward:
        w = (
            Window.partitionBy(*keys)
            .orderBy(ts_col, F.desc("_asof_probe"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        picked = F.first(value_col, ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(ts_col, "_asof_probe")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        picked = F.last(value_col, ignorenulls=True).over(w)
    return (
        unioned.withColumn(out, picked)
        .filter((F.col("_asof_probe") == 1) & F.col(out).isNotNull())
        .select(*keys, ts_col, out)
    )


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    order_cols: Sequence[str] = (),
    out: str = "session_id",
) -> DataFrame:
    """Append ``out`` = 1-based session id per key group: a new
    session starts wherever the gap to the previous row exceeds
    ``gap_seconds`` (gaps-and-islands — lag → flag → running sum).
    One shuffle on the keys serves both windows. ``order_cols``
    breaks timestamp ties deterministically (pass a unique id).

    >>> sessionize(events, ["user_id"], "ts", 1800, ["event_id"])
    """
    keys = list(keys)
    order = [ts_col, *order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    gap_us = int(gap_seconds) * 1_000_000
    flagged = df.withColumn(
        "_sz_new",
        F.when(
            F.lag(ts_col).over(w).isNull()
            | (
                F.unix_micros(ts_col) - F.unix_micros(F.lag(ts_col).over(w))
                > gap_us
            ),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        out,
        F.sum("_sz_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    ).drop("_sz_new")


def locf_grid(
    series: DataFrame,
    keys: Sequence[str],
    bucket_col: str,
    value_col: str,
    step,
    out: str = "value_filled",
) -> DataFrame:
    """Densify a bucketed series onto the global [min, max] grid per
    key and gap-fill by last-observation-carried-forward (leading
    gaps stay null). ``series`` carries ≤1 row per (keys, bucket_col)
    timestamp bucket; ``step`` is the grid stride (a Column, e.g.
    ``F.expr("interval 6 hours")``). Returns (keys…, bucket_col, out).

    Scale shape: the grid is built from ONE aggregated bounds row +
    sequence/explode — never by scanning the series per bucket; the
    LOCF window partitions on the keys.

    >>> locf_grid(readings, ["sensor"], "bucket", "v",
    ...           F.expr("interval 1 hour"))
    """
    keys = list(keys)
    bounds = series.agg(
        F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi")
    )
    grid = (
        series.select(*keys)
        .distinct()
        .crossJoin(bounds)
        .select(
            *keys,
            F.explode(F.sequence("_lo", "_hi", step)).alias(bucket_col),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(series, [*keys, bucket_col], "left").select(
        *keys,
        bucket_col,
        F.last(value_col, ignorenulls=True).over(w).alias(out),
    )


# --------------------------------------------------------------------------
# schema / contract
# --------------------------------------------------------------------------


def schema_contract_diff(
    df: DataFrame, contract: Sequence[tuple[str, str]]
) -> DataFrame:
    """Diff a DataFrame's LIVE schema against a frozen (column, type)
    contract: one row per column with ok / type_drift / missing /
    unexpected status. Pure metadata — zero data rows move; this is
    the publish-side gate that fails a delivery BEFORE consumers see
    drift.

    >>> schema_contract_diff(events, [("event_id", "bigint"), ...])
    """
    spark = df.sparkSession
    live = spark.createDataFrame(
        [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        "col_name string, dtype string",
    ).alias("l")
    want = spark.createDataFrame(
        list(contract), "col_name string, dtype string"
    ).alias("c")
    return (
        want.join(live, F.col("c.col_name") == F.col("l.col_name"), "full_outer")
        .select(
            F.coalesce(F.col("c.col_name"), F.col("l.col_name")).alias(
                "col_name"
            ),
            F.col("c.dtype").alias("contract_type"),
            F.col("l.dtype").alias("live_type"),
            F.when(F.col("l.col_name").isNull(), "missing")
            .when(F.col("c.col_name").isNull(), "unexpected")
            .when(F.col("c.dtype") != F.col("l.dtype"), "type_drift")
            .otherwise("ok")
            .alias("status"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Avro object-container read/write (engine codec, distributed)
# --------------------------------------------------------------------------

_avro_pyfile_added: set[str] = set()


def _ship_avro_codec(spark: SparkSession) -> None:
    """Distribute avro_io.py to executor Python workers (once per
    SparkContext): workers can't import the repo package — they only
    get files shipped via addPyFile."""
    import hadoop_deliver_spark.avro_io as avro_io

    app_id = spark.sparkContext.applicationId
    if app_id not in _avro_pyfile_added:
        spark.sparkContext.addPyFile(avro_io.__file__)
        _avro_pyfile_added.add(app_id)


def read_avro(spark: SparkSession, path: str, spark_schema: str) -> DataFrame:
    """Distributed Avro object-container scan WITHOUT the spark-avro
    data source: binaryFile source → mapInPandas, one decode task per
    file, so a many-file avro delivery parallelizes exactly like any
    other scan. The codec (hadoop_deliver_spark/avro_io.py, a
    pure-Python subset of the public Avro 1.x container spec) is
    cross-validated against the JVM org.apache.avro reader/writer in
    tests/test_avro.py. ``spark_schema`` is the result schema DDL,
    e.g. ``"n_nationkey INT, n_name STRING"``.

    >>> read_avro(spark, "/data/nation_avro", "n_nationkey INT, n_name STRING")
    """
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    _ship_avro_codec(spark)
    cols = [f.name for f in _parse_datatype_string(spark_schema).fields]

    def decode(batches):
        from avro_io import read_container  # shipped via addPyFile

        for pdf in batches:
            for content in pdf["content"]:
                _, recs = read_container(bytes(content))
                yield pd.DataFrame(recs, columns=cols)

    return (
        spark.read.format("binaryFile")
        .load(path)
        .filter(F.col("path").endswith(".avro"))
        .select("content")
        .mapInPandas(decode, spark_schema)
    )


def write_avro(
    df: DataFrame, out_dir: str, avro_schema: dict, codec: str = "deflate"
) -> DataFrame:
    """Distributed Avro object-container sink: every task encodes ITS
    partition to one container file via the engine codec (mapInPandas
    — no driver-side funnel; at 100 TB this is N writer tasks exactly
    like any parquet sink). Returns the (path, n) manifest DataFrame —
    the CALLER owns the commit protocol (count-check, then rename the
    written directory into place, or Spark's FileCommitProtocol in
    production). ``out_dir`` must exist.

    >>> manifest = write_avro(df.repartition(64), "/data/out", schema)
    >>> assert manifest.agg(F.sum("n")).collect()[0][0] == df.count()
    """
    import pandas as pd

    _ship_avro_codec(df.sparkSession)

    def write_part(batches):
        import os as _os
        import uuid as _uuid

        from avro_io import write_container as wc  # shipped pyfile

        rows = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if rows:
            p = _os.path.join(out_dir, f"part-{_uuid.uuid4().hex}.avro")
            wc(p, avro_schema, rows, codec=codec)
            yield pd.DataFrame({"path": [p], "n": [len(rows)]})

    return df.mapInPandas(write_part, "path STRING, n BIGINT")


# --------------------------------------------------------------------------
# corpus / lifetime statistics cores
# --------------------------------------------------------------------------


def gopher_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021
    §A1.1) over YOUR table: returns (id_col, n_words, total_chars,
    alpha_words, stop_hits, r_word_count, r_mean_word_len,
    r_alpha_ratio, r_stopwords, keep). Every rule is INTEGER column
    algebra (mean word length in [3,10] is stated as 3·n ≤ Σlen ≤
    10·n — no float division), so the filter is map-only,
    embarrassingly parallel, and bit-exact across engines.

    >>> kept = gopher_quality(docs, "pk", "body").where("keep")
    """
    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    ws = F.filter(F.split(text_col, " "), lambda w: w != "")
    m = df.select(
        id_col,
        F.size(ws).cast("long").alias("n_words"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("total_chars"),
        F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]")))
        .cast("long")
        .alias("alpha_words"),
        F.size(
            F.array_intersect(
                F.array_distinct(ws), F.array(*[F.lit(s) for s in stops])
            )
        )
        .cast("long")
        .alias("stop_hits"),
    )
    n, tc, aw, sh = (
        F.col("n_words"),
        F.col("total_chars"),
        F.col("alpha_words"),
        F.col("stop_hits"),
    )
    r_wc = n.between(50, 100000)
    r_mwl = (3 * n <= tc) & (tc <= 10 * n)
    r_alpha = 5 * aw >= 4 * n
    r_stop = sh >= 2
    return m.select(
        id_col,
        "n_words",
        "total_chars",
        "alpha_words",
        "stop_hits",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_ratio"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_alpha & r_stop).alias("keep"),
    )


def survival_km(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """Kaplan-Meier survival curve from per-subject observations:
    ``duration_col`` (integer time-to-event-or-censoring) and
    ``event_col`` (true = the event happened, false = right-censored
    at that time). Returns one row per duration WITH events:
    (duration_col, at_risk, deaths, survival) where survival is the
    KM product Π_{t'≤t} (1 − d/n) rounded to 4 decimals.

    Scale shape: the subject table reduces to a per-duration
    aggregate in one keyed shuffle; every cumulative window runs over
    that aggregate, whose cardinality is bounded by the TIME AXIS
    (days of history), never the subject count. The d = n extinction
    step is CASE-guarded (no ln(0)); survival after extinction is
    exactly 0.

    >>> survival_km(lives, "t_obs", "died")
    """
    lt = df.groupBy(duration_col).agg(
        F.count(F.lit(1)).alias("_km_n"),
        F.count_if(F.col(event_col)).alias("deaths"),
    )
    w_risk = Window.orderBy(F.col(duration_col).desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = lt.select(
        duration_col,
        "deaths",
        F.sum("_km_n").over(w_risk).alias("at_risk"),
    ).where(F.col("deaths") > 0)
    w_cum = Window.orderBy(duration_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ln_term = F.when(
        F.col("at_risk") > F.col("deaths"),
        F.log(1.0 - F.col("deaths").cast("double") / F.col("at_risk")),
    ).otherwise(F.lit(0.0))
    zero_flag = F.when(F.col("deaths") == F.col("at_risk"), 1).otherwise(0)
    km = risk.select(
        duration_col,
        F.col("at_risk").cast("long").alias("at_risk"),
        "deaths",
        F.sum(ln_term).over(w_cum).alias("_km_logsum"),
        F.max(zero_flag).over(w_cum).alias("_km_zero"),
    )
    return km.select(
        duration_col,
        "at_risk",
        "deaths",
        F.when(F.col("_km_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("_km_logsum"), 4))
        .alias("survival"),
    )


def ewma_smooth(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    value_col: str,
    *,
    window_days: int = 30,
    out: str = "ewma",
) -> DataFrame:
    """α = 1/2 exponentially-weighted moving average of a daily
    series over a trailing ``window_days`` window, normalized by the
    in-window weight mass (series heads are unbiased). Returns
    (key_cols, time_col, value_col, ``out``) with ``out`` rounded to
    4 decimals. ``time_col`` must be a DATE column; one output row
    per input row.

    All weights are exact powers of two and integer values make every
    product exact, so the smoother is bit-exact across engines before
    the display rounding. Shape: an EQUI-join on the keys with a
    day-range residual over the (already aggregated) series — a hash
    join, not a window and not a nested loop, so it partitions freely
    at any scale.

    >>> ewma_smooth(daily, ["event_type"], "day", "cnt")
    """
    keys = list(key_cols)
    a = df.alias("_ew_a")
    b = df.alias("_ew_b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"_ew_a.{k}") == F.col(f"_ew_b.{k}"))
    diff = F.datediff(F.col(f"_ew_a.{time_col}"), F.col(f"_ew_b.{time_col}"))
    wgt = F.pow(F.lit(0.5), diff)
    return (
        a.join(b, cond & diff.between(0, window_days - 1))
        .groupBy(
            *[F.col(f"_ew_a.{k}").alias(k) for k in keys],
            F.col(f"_ew_a.{time_col}").alias(time_col),
            F.col(f"_ew_a.{value_col}").alias(value_col),
        )
        .agg(
            F.round(
                F.sum(F.col(f"_ew_b.{value_col}") * wgt) / F.sum(wgt), 4
            ).alias(out)
        )
    )


def holt_smooth(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    value_col: str,
    *,
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing over each keyed
    series: l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t −
    l_{t−1}) + (1−β)b_{t−1}, seeded l_1 = x_1, b_1 = x_2 − x_1;
    ``fcst`` is the one-step-ahead forecast l_{t−1}+b_{t−1} (= x_1
    at the seed). Appends (level, trend, fcst) rounded HALF_UP to 4
    decimals — SQL round semantics, NOT Python's banker's rounding,
    because binary α/β park values on exact .5 boundaries routinely.
    Series shorter than 2 rows are dropped (no trend seed exists).

    The recurrence reads its own previous OUTPUT, so no built-in
    window can express it: this is the applyInPandas sequential-state
    template — one shuffle on the series key, O(1) state (two
    doubles) per series, each series an independent loop. The default
    α=1/2, β=1/4 keep every step's arithmetic bit-identical to a SQL
    engine replaying the same recurrence (see ts_holt_winters's
    RECURSIVE-CTE oracle).

    >>> holt_smooth(daily, ["event_type"], "day", "cnt")
    """
    import math

    import pandas as pd

    keys = list(key_cols)
    in_cols = keys + [time_col, value_col]
    out_schema_df = df.select(*in_cols).schema
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_schema_df
    )
    schema += ", level DOUBLE, trend DOUBLE, fcst DOUBLE"

    def r4(v: float) -> float:
        return math.copysign(math.floor(abs(v) * 1e4 + 0.5), v) / 1e4

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col).reset_index(drop=True)
        if len(pdf) < 2:
            return pdf.iloc[0:0].assign(level=0.0, trend=0.0, fcst=0.0)
        x = pdf[value_col].astype("float64").to_numpy()
        lvl, tr, fc = [x[0]], [x[1] - x[0]], [x[0]]
        for t in range(1, len(x)):
            fc.append(lvl[-1] + tr[-1])
            ln = alpha * x[t] + (1.0 - alpha) * (lvl[-1] + tr[-1])
            tn = beta * (ln - lvl[-1]) + (1.0 - beta) * tr[-1]
            lvl.append(ln)
            tr.append(tn)
        out = pdf[in_cols].copy()
        out["level"] = [r4(v) for v in lvl]
        out["trend"] = [r4(v) for v in tr]
        out["fcst"] = [r4(v) for v in fc]
        return out

    return df.select(*in_cols).groupBy(*keys).applyInPandas(run, schema)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram_k: int = 3,
    window_w: int = 4,
) -> DataFrame:
    """(id_col, f): Winnowing fingerprints (Schleimer et al., SIGMOD
    2003) of each row's text — hash every ``gram_k``-token gram
    (md5-derived 32-bit value, SQL-replayable), slide a window of
    ``window_w`` hashes, keep each window's minimum, emit the
    distinct minima. Detection guarantee: two texts sharing any run
    of ≥ window_w + gram_k − 1 tokens share at least one
    fingerprint; storage density ~2/(window_w+1) of gram count.
    Entirely in-row array algebra (map-only) until the caller joins
    on ``f``.

    >>> fp = winnow_fingerprints(docs, "doc_id", "body")
    >>> pairs = fp.alias("a").join(fp.alias("b"), "f")...
    """
    a = F.split(text_col, " ")
    gram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat_ws(" ", F.slice(a, i, gram_k)).cast("binary")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    hashes = F.when(
        F.size(a) >= gram_k,
        F.transform(F.sequence(F.lit(1), F.size(a) - (gram_k - 1)), gram_hash),
    ).otherwise(F.array().cast("array<long>"))
    h = df.select(id_col, hashes.alias("_wf_h")).where(
        F.size("_wf_h") >= window_w
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.size("_wf_h") - (window_w - 1)),
        lambda i: F.array_min(F.slice("_wf_h", i, window_w)),
    )
    return h.select(id_col, F.explode(F.array_distinct(mins)).alias("f"))


#: dense-path gates for the co-membership neighbor-bitmap core
#: (:func:`co_membership_edges` / :func:`co_membership_degrees`): the
#: per-id neighbor bitmap is ⌈(max_id+1)/64⌉ longs wide (cap: 4096
#: words = 32 KiB/row, i.e. ids < 262 144), and the per-block
#: membership bitmaps are BROADCAST (n_blocks · n_chunks longs ≤ 2²²
#: = 32 MiB — the jaccard/triangle budget family). Past either gate
#: the core falls back to the block-equi-join + distinct formulation,
#: which never materializes anything O(|V|)-wide.
_NEIGHBOR_BITMAP_MAX_CHUNKS = 1 << 12
_NEIGHBOR_BITMAP_MAX_WORDS = 1 << 22

#: 64 single-bit masks as a literal column (signed-long bit 63), so
#: bit tests inside higher-order-function lambdas never need a
#: column-valued shift amount (F.shiftleft takes only literal counts).
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _bit_masks_col() -> Column:
    return F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])


def bitmap_degree(bm) -> Column:
    """Popcount of a :func:`bitmap_sets`-style array<long> bitmap:
    Σ bit_count(word), codegen'd."""
    bm = F.col(bm) if isinstance(bm, str) else bm
    return F.aggregate(
        F.transform(bm, lambda w: F.bit_count(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def bitmap_members(bm, n_bits: int) -> Column:
    """array<long> of the SET bit positions of ``bm`` (ascending) —
    the bitmap→id-list decode, in-row (filter over the id range; no
    explode, no UDF)."""
    bm = F.col(bm) if isinstance(bm, str) else bm
    masks = _bit_masks_col()
    return F.filter(
        F.sequence(F.lit(0).cast("long"), F.lit(int(n_bits) - 1).cast("long")),
        lambda v: (
            F.element_at(bm, (v / 64).cast("int") + 1).bitwiseAND(
                F.element_at(masks, (v % 64).cast("int") + 1)
            )
            != 0
        ),
    )


def neighbor_bitmaps(
    du: DataFrame, block_col: str, id_col: str, n_chunks: int
) -> DataFrame:
    """(id_col, bm) — per id, the fixed-width bitmap of all OTHER ids
    sharing at least one ``block_col`` value with it (the
    co-membership / co-activity adjacency row). ``id_col`` must hold
    non-null integral ids in ``[0, 64·n_chunks)`` — the caller gates
    (see :func:`co_membership_edges`). ``du`` need NOT be
    de-duplicated: bit_or is idempotent, so the (block, id) distinct
    shuffle the join formulation pays is skipped entirely.

    Shape: one block-keyed bitmap reduce (≤ n_blocks · n_chunks longs,
    broadcast), one broadcast attach + word explode, one map-side-
    combined (id, word) bit_or reduce, one in-row assembly — NOTHING
    quadratic: the per-day O(n_d²) pair fan-out of the join
    formulation never exists. Own bit cleared at the end."""
    blocks = bitmap_sets(du, block_col, id_col, n_chunks, out="_nb_bm")
    per = (
        du.join(F.broadcast(blocks), block_col)
        .select(id_col, F.posexplode("_nb_bm").alias("_nb_c", "_nb_w"))
        .filter(F.col("_nb_w") != 0)
        .groupBy(id_col, "_nb_c")
        .agg(F.bit_or("_nb_w").alias("_nb_m"))
    )
    own_c = (F.col(id_col) / 64).cast("int")
    own_m = F.element_at(_bit_masks_col(), (F.col(id_col) % 64).cast("int") + 1)
    return (
        per.groupBy(id_col)
        .agg(
            F.map_from_arrays(
                F.collect_list("_nb_c"), F.collect_list("_nb_m")
            ).alias("_nb_cm")
        )
        .withColumn(
            "bm",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda c: F.when(
                    c == own_c,
                    F.coalesce(
                        F.try_element_at(F.col("_nb_cm"), c),
                        F.lit(0).cast("long"),
                    ).bitwiseAND(F.bitwise_not(own_m)),
                ).otherwise(
                    F.coalesce(
                        F.try_element_at(F.col("_nb_cm"), c),
                        F.lit(0).cast("long"),
                    )
                ),
            ),
        )
        .select(id_col, "bm")
    )


def _co_membership_gate(du: DataFrame, block_col: str, id_col: str):
    """Probe the dense-path gates: returns ``(n_chunks, n_blocks)``
    when the neighbor-bitmap core applies, else ``None``. One small
    scalar agg action."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(
        du.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        return None
    r = du.agg(
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
        F.count_distinct(block_col).alias("nb"),
    ).first()
    if r["lo"] is None or r["lo"] < 0:
        return None
    n_chunks = int(r["hi"]) // 64 + 1
    if n_chunks > _NEIGHBOR_BITMAP_MAX_CHUNKS:
        return None
    if int(r["nb"]) * n_chunks > _NEIGHBOR_BITMAP_MAX_WORDS:
        return None
    return n_chunks, int(r["nb"])


def _co_membership_edges_join(
    du: DataFrame, block_col: str, id_col: str
) -> DataFrame:
    """The web-scale fallback formulation: block-equi self-join with
    ``id < id`` orientation, then distinct — O(Σ n_block²) pair
    fan-out but nothing O(|V|)-wide, no broadcast, ids unrestricted."""
    a, b = du.alias("a"), du.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("u"), F.col(f"b.{id_col}").alias("v")
        )
        .distinct()
    )


def co_membership_edges(
    du: DataFrame, block_col: str, id_col: str
) -> DataFrame:
    """(u, v) distinct co-membership edges (u < v): two ids are
    adjacent iff they share at least one ``block_col`` value. Dense
    path (ids integral, small, block bitmaps within the broadcast
    budget — see :data:`_NEIGHBOR_BITMAP_MAX_CHUNKS` /
    :data:`_NEIGHBOR_BITMAP_MAX_WORDS`): decode each id's neighbor
    bitmap to the neighbors ABOVE it — each edge emitted exactly once
    from its lower endpoint, map-side, so the join formulation's
    quadratic pair shuffle + distinct never runs. Past the gates:
    :func:`_co_membership_edges_join` (the prior formulation,
    unrestricted scale). Both paths proven equal by property test."""
    gate = _co_membership_gate(du, block_col, id_col)
    if gate is None:
        # the join path pays per-block quadratic fan-out: dedup first
        return _co_membership_edges_join(
            du.select(block_col, id_col).distinct(), block_col, id_col
        )
    n_chunks, _ = gate
    nb = neighbor_bitmaps(du, block_col, id_col, n_chunks)
    return nb.select(
        F.col(id_col).alias("u"),
        F.explode(
            F.filter(
                bitmap_members("bm", n_chunks * 64),
                lambda v: v > F.col(id_col),
            )
        ).alias("v"),
    )


def co_membership_degrees(
    du: DataFrame, block_col: str, id_col: str, out: str = "degree"
) -> DataFrame:
    """(id_col, out) — each id's co-membership degree (count of OTHER
    ids sharing ≥1 block). Dense path: popcount of the neighbor
    bitmap — no edge list is ever materialized. Fallback: endpoint
    unpivot + count over the join-formulation edges (the prior
    shape). Ids with no co-members (alone in all their blocks) have
    degree 0 on the dense path but NO ROW in the fallback — callers
    relying on the zero rows must gate themselves; the fixture
    operators filter/aggregate in ways where both agree (complete
    per-block fan-out ⇒ every id with a non-singleton block appears);
    to keep the two paths IDENTICAL the dense path drops degree-0
    rows too."""
    gate = _co_membership_gate(du, block_col, id_col)
    if gate is None:
        e = _co_membership_edges_join(
            du.select(block_col, id_col).distinct(), block_col, id_col
        )
        ends = e.select(F.col("u").alias(id_col)).unionAll(
            e.select(F.col("v").alias(id_col))
        )
        return ends.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("long").alias(out)
        )
    n_chunks, _ = gate
    nb = neighbor_bitmaps(du, block_col, id_col, n_chunks)
    return nb.select(id_col, bitmap_degree("bm").alias(out)).filter(
        F.col(out) > 0
    )


def triangle_stats_from_neighbors(
    nb: DataFrame, id_col: str
) -> tuple[int, int]:
    """(n_edges, n_triangles) — EXACT counts from a
    :func:`neighbor_bitmaps` table: each edge decodes once from its
    lower endpoint (map-side), and Σ over unordered edges (u<v) of
    |N(u) ∩ N(v)| counts every triangle exactly 3×. The nb table is
    broadcast (caller's gate already bounds |V|·n_chunks). One
    aggregate action plus one 1-row width probe."""
    first = nb.select(F.size("bm").alias("w")).first()
    if first is None:
        return 0, 0
    n_bits = int(first["w"]) * 64
    pairs = nb.select(
        F.col(id_col).alias("_tn_u"),
        F.col("bm").alias("_tn_bm_u"),
        F.explode(
            F.filter(
                bitmap_members("bm", n_bits), lambda v: v > F.col(id_col)
            )
        ).alias("_tn_v"),
    )
    bv = nb.select(
        F.col(id_col).alias("_tn_v"), F.col("bm").alias("_tn_bm_v")
    )
    row = (
        pairs.join(F.broadcast(bv), "_tn_v")
        .select(
            bitmap_intersect_count("_tn_bm_u", "_tn_bm_v").alias("_tn_c")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("_tn_ne"),
            F.sum("_tn_c").alias("_tn_t3"),
        )
        .first()
    )
    return int(row["_tn_ne"] or 0), int(row["_tn_t3"] or 0) // 3


def pair_cooccurrence_stats(
    du: DataFrame,
    block_col: str,
    id_col: str,
    weight_col: str | None = None,
    *,
    dedup: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """(u, v, n_common[, w_sum]) over unordered id pairs sharing at
    least one ``block_col`` value: ``n_common`` = number of shared
    blocks (exact int64), ``w_sum`` = Σ ``weight_col`` over the shared
    blocks (the column must be functionally determined by the block —
    e.g. a degree-derived Adamic–Adar weight). The O(Σ n_block²) pair
    fan-out is the exact-count lower bound — every shared-block pair
    instance must be witnessed once — so this core only removes the
    AVOIDABLE cost around it: the (block, id) table is deduped and
    materialized ONCE (eager localCheckpoint) so the self-join's two
    branches scan the checkpoint instead of re-running the upstream
    lineage per side (guide §5 — the same lesson as
    :func:`_materialize_for_probes`), and the pair aggregate runs
    map-side-partial directly behind the block-keyed join (one
    exchange of surviving pairs, nothing wider). Callers that need
    only the distinct pair list select (u, v); callers that need
    co-occurrence counts or block-weighted sums read them off the
    same single pass instead of paying the fan-out again.

    ``dedup=False`` asserts the input is already distinct on
    (block, id); ``materialize=False`` asserts it is already a
    checkpoint scan (or cheap to rescan)."""
    cols = [block_col, id_col] + ([weight_col] if weight_col else [])
    src = du.select(*cols)
    if dedup:
        src = src.distinct()
    if materialize:
        src = _materialize_for_probes(src)
    a_cols = [F.col(block_col).alias("_pc_b"), F.col(id_col).alias("u")]
    if weight_col:
        a_cols.append(F.col(weight_col).alias("_pc_w"))
    # explicit-width repartitions (the _jaccard_parts precedent): the
    # block tables entering the self-join are byte-light, so AQE's
    # byte-targeted coalescing would squeeze the CPU-heavy pair
    # fan-out + partial aggregate onto one or two tasks;
    # REPARTITION_BY_NUM pins the join at defaultParallelism and its
    # hash distribution satisfies the join requirement (no extra
    # exchange).
    par = du.sparkSession.sparkContext.defaultParallelism
    a = src.select(*a_cols).repartition(par, "_pc_b")
    b = src.select(
        F.col(block_col).alias("_pc_b2"), F.col(id_col).alias("v")
    ).repartition(par, "_pc_b2")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_common")]
    if weight_col:
        aggs.append(F.sum("_pc_w").cast("long").alias("w_sum"))
    return (
        a.join(
            b,
            (F.col("_pc_b") == F.col("_pc_b2"))
            & (F.col("u") < F.col("v")),
        )
        .groupBy("u", "v")
        .agg(*aggs)
    )
