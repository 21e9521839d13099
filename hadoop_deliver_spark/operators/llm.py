"""§2.K — LLM-data-pipeline operators (driver mandate).

The operators a large-scale training-data pipeline needs, expressed
as shuffle-based relational plans — no driver-side materialization
anywhere, so every one of them scales by adding executors:

- dedup (exact-on-normalized-key; MinHash+LSH banding for near-dup)
- similarity search (brute-force cosine for broadcastable probe
  sets; block-partitioned kNN join; ML LSH for the approximate path)
- tokenization / TF-IDF / corpus stats — explode→groupBy→join plans
- corpus routing (filter + partitioned delivery)
- multimodal packing (document⋈embedding structs)

Float policy per the engine convention: computed doubles surface as
float32. Similarity *rankings* sort on the float32 value with a
unique id tiebreaker so cross-engine ulp drift cannot flip top-k
membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

# --------------------------------------------------------------------------
# shared building blocks
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")


def _tokens(d: DataFrame) -> DataFrame:
    """(doc_id, tok) token stream — the workhorse under every text op."""
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))


def _shingle_sets(d: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingles array<string>) over the documents fixture —
    thin binding of the column-parameterized public core, routed
    through the session-memoized checkpoint (api._staged_sets)
    so it shares the staged corpus index with the minhash family.
    api.shingle_sets carries the short-doc guard rationale; DuckDB's
    range(1, n−k+1) is already empty for n<k, so that guard is what
    keeps the two engines identical on degenerate docs."""
    from hadoop_deliver_spark.api import _staged_sets, shingle_sets

    return _staged_sets(shingle_sets, d, "doc_id", "text", k)


_SHINGLE_SET_SQL = """
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' ')
               )) AS shingles
        FROM documents
"""

# Exact pairwise Jaccard over 3-token shingle sets, computed in DuckDB
# with the SAME lossless PPJoin candidate stage + 64-bit bitmap-words
# refine as the llm_dedup_ngram_jaccard oracle (round-8 oracle trim:
# the previous flat inverted self-join paid Σ_sh df² for EVERY
# consumer — ~8-10s each at sf0.1 across five oracles).
#
# CONTRACT: complete for jaccard >= 0.5 — the df-ascending prefix
# filter ((2n+2)//3 = exact ceil(2n/3) probing prefix, (n+1)//2 index
# prefix, both with +1 slack), the 2× size-ratio bound and the
# cross-multiplied positional bound 3·(1+min(remainders)) ≥ na+nb are
# each lossless at t = 0.5 (sub-threshold candidate pairs may also
# surface, with their exact jaccard). Every consumer filters at
# jaccard >= 0.5; the jaccard expression itself is unchanged exact-int
# arithmetic, so surviving values are bit-identical to the flat form.
_EXACT_JACCARD_SQL = f"""
    WITH sets AS ({_SHINGLE_SET_SQL}),
    inv AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh
            FROM sets),
    -- AS MATERIALIZED on sdf + words only (r10 oracle trim, same
    -- finding as the llm_dedup_ngram_jaccard oracle): each is
    -- referenced twice and DuckDB re-inlines plain CTEs per
    -- reference; pinning inv/ranked/cands instead regresses badly
    -- (kills the rk-filter pushdown into the window).
    sdf AS MATERIALIZED (SELECT sh, count(*) AS df FROM inv GROUP BY sh),
    ranked AS (
        SELECT i.doc_id, i.n, i.sh,
               row_number() OVER (PARTITION BY i.doc_id
                                  ORDER BY d.df, i.sh) AS rk
        FROM inv i JOIN sdf d USING (sh)
    ),
    cands AS (
        SELECT DISTINCT least(a.doc_id, b.doc_id)    AS doc_a,
                        greatest(a.doc_id, b.doc_id) AS doc_b
        FROM (SELECT * FROM ranked
              WHERE rk <= n - (2 * n + 2) // 3 + 2) a
        JOIN (SELECT * FROM ranked
              WHERE rk <= n - (n + 1) // 2 + 2) b
          ON a.sh = b.sh
         AND (b.n > a.n OR (b.n = a.n AND b.doc_id > a.doc_id))
         AND b.n <= 2 * a.n
         AND 3 * (1 + least(a.n - a.rk, b.n - b.rk)) >= a.n + b.n
    ),
    gid AS (SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INT)
                   AS gid
            FROM sdf),
    words AS MATERIALIZED (
        SELECT i.doc_id, any_value(i.n) AS n, x.gid // 64 AS chunk,
               bit_or(CAST(1 AS UBIGINT) << (x.gid % 64)) AS w
        FROM inv i JOIN gid x USING (sh)
        GROUP BY i.doc_id, x.gid // 64
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b,
               any_value(wa.n) AS na, any_value(wb.n) AS nb,
               sum(bit_count(wa.w & wb.w)) AS n_inter
        FROM cands c
        JOIN words wa ON wa.doc_id = c.doc_a
        JOIN words wb ON wb.doc_id = c.doc_b AND wb.chunk = wa.chunk
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
    FROM inter
"""


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


@register(
    "llm_dedup_exact",
    """
    WITH keyed AS (
        SELECT doc_id,
               sha256(lower(trim(substr(text, 1, 60)))) AS k
        FROM documents
    )
    SELECT min(doc_id) AS doc_id, count(*) AS n_dups
    FROM keyed GROUP BY k ORDER BY doc_id
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized content key (sha256 of the
    lowercased 60-char prefix — the fixtures have no full-text dups by
    construction, prefixes do collide). Survivor = min doc_id per key:
    deterministic, unlike dropDuplicates' arrival-order survivor. One
    hash-shuffle on the 32-byte key regardless of document size — at
    100 TB the key, not the text, is what moves."""
    d = tbl(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.substring("text", 1, 60))), 256).alias("k"),
    )
    return (
        keyed.groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("doc_id", "n_dups")
        .orderBy("doc_id")
    )


@register(
    "llm_dedup_minhash",
    f"""
    SELECT doc_a, doc_b, CAST(jaccard AS REAL) AS jaccard
    FROM ({_EXACT_JACCARD_SQL})
    WHERE jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection: 3-token shingles → 128-permutation
    MinHash (xxhash64 with per-permutation salts) → banded LSH
    (64 bands × 2 rows: candidate-pair recall at J=0.5 is
    1−(1−J²)⁶⁴ ≈ 1−1e-8) → exact-Jaccard refinement of candidates →
    pairs with J ≥ 0.5.

    The exact refinement makes the output engine-checkable: the
    oracle computes ALL pairs with exact J ≥ 0.5 in DuckDB from first
    principles; equality holds unless banding missed a qualifying
    pair (probability ~1e-8 each). The full pipeline is the public
    core api.minhash_pairs (column-parameterized, with the scale-shape
    and HOF-lambda-collapse rationale documented there); this operator
    binds it to the documents fixture."""
    from hadoop_deliver_spark.api import minhash_pairs

    d = tbl(spark, sf_dir, "documents")
    return (
        minhash_pairs(d, "doc_id", "text", threshold=0.5)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

_COS_SQL = """
        list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
"""


# vector primitives live on the public surface (api.dot / api.vec_norm,
# which carry the compute-norms-once rationale); aliased here for the
# similarity operators' internal use
from hadoop_deliver_spark.api import dot as _dot  # noqa: E402
from hadoop_deliver_spark.api import vec_norm as _norm  # noqa: E402


def _with_cosine(joined: DataFrame, ea: str, eb: str, na: str, nb: str) -> DataFrame:
    """Append a `cos` column from pre-joined vectors + their
    precomputed norms."""
    return joined.withColumn("cos", _dot(ea, eb) / (F.col(na) * F.col(nb)))


@register(
    "llm_sim_bruteforce",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
        SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
               CAST({_COS_SQL} AS REAL) AS cos
        FROM v a JOIN v b ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
    )
    SELECT probe_id, neighbor_id, cos
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= 5 ORDER BY probe_id, cos DESC, neighbor_id
    """,
)
def llm_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for a probe set (vec_id % 100 = 0):
    probes stay a DATAFRAME and ride through an explicit F.broadcast()
    nested-loop join against the base vectors — one map-side pass per
    base partition, nothing collected to the driver, dot product via
    zip_with+aggregate, per-probe window top-k. (Earlier versions
    collected the probe rows and inlined them as plan LITERALS; the
    probe set is a fixed fraction of the corpus, so at 100× that meant
    a driver OOM and a megabyte-scale expression tree. The broadcast
    join does the identical pairing work but ships probes through the
    torrent broadcast path, built for exactly this — the same shape
    llm_knn_classify uses, allowlisted in the plan sweep with this
    argument. A grid-cell equi-join canNOT replace it: the grid prunes
    pairs below a cosine threshold while exact top-k must consider
    arbitrarily-low cosines.) Scale contract: the PROBE side must fit
    in a broadcast; for corpus-scale probe sets shard the probes and
    union the per-shard top-k. Ranking sorts on the float32 cosine
    (+ id tiebreak) so last-ulp engine drift cannot change top-k
    membership."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).withColumn("nrm", _norm("e"))
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    joined = emb.join(F.broadcast(probes)).filter(
        F.col("probe_id") != F.col("vec_id")
    )
    scored = _with_cosine(joined, "pe", "e", "pnrm", "nrm").select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("cos").cast("float").alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "cos")
        .orderBy("probe_id", F.col("cos").desc(), "neighbor_id")
    )


@register("llm_sim_lsh", None)  # rows-only: hash family is engine-specific
def llm_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN at scale: BucketedRandomProjectionLSH
    (random-hyperplane bucketing) self-join on euclidean distance.
    Bucketing replaces the all-pairs cross join with same-bucket
    candidates — the scale path when the probe set is NOT
    broadcastable. Rows-only: the projection family is seeded
    Spark-internal; parameters were validated against the brute-force
    ground truth (llm_sim_bruteforce) at sf0.001.

    Radius: the corpus vectors are unit-normalized, so euclidean
    distance is bounded by 2 and maps to cosine via d² = 2−2cos; the
    1.2 radius below keeps pairs with cos ≥ 0.28 — a real similarity
    cut. (An earlier 8.0 radius pruned NOTHING on unit vectors: every
    same-bucket candidate survived — 1.87M output pairs at sf0.1,
    28 s. Measured at r=1.2: 1.4k pairs at sf0.001/0.01, 23k pairs
    (1.1% of all-pairs) in ~4 s at sf0.1 — the output, not the
    bucketing, was the quadratic part.)"""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("v")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="h", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(emb, emb, 1.2, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.col("dist").cast("float").alias("dist"),
        )
        .orderBy("vec_a", "vec_b")
    )


@register(
    "llm_knn_join",
    f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               CAST({_COS_SQL} AS REAL) AS cos
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= 3 ORDER BY vec_id, cos DESC, neighbor_id
    """,
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join blocked by label: top-3 same-label neighbors for every
    vector. The label equi-key carries the shuffle (co-partitioned
    block join), so cost is Σ|block|² not |table|² — the standard
    blocked-kNN shape; swap the blocking key for an LSH bucket id
    (llm_sim_lsh) when no natural block exists."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).withColumn("nrm", _norm("e"))
    a = emb.select(
        F.col("vec_id").alias("a_id"), F.col("label").alias("a_lbl"),
        F.col("e").alias("a_e"), F.col("nrm").alias("a_nrm"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("label").alias("b_lbl"),
        F.col("e").alias("b_e"), F.col("nrm").alias("b_nrm"),
    )
    joined = a.join(
        b, (F.col("a_lbl") == F.col("b_lbl")) & (F.col("a_id") != F.col("b_id"))
    )
    scored = _with_cosine(joined, "a_e", "b_e", "a_nrm", "b_nrm").select(
        F.col("a_id").alias("vec_id"),
        F.col("b_id").alias("neighbor_id"),
        F.col("cos").cast("float").alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_id", "neighbor_id", "cos")
        .orderBy("vec_id", F.col("cos").desc(), "neighbor_id")
    )


# --------------------------------------------------------------------------
# text pipeline
# --------------------------------------------------------------------------


@register(
    "llm_tokenize",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), kept AS (
        SELECT doc_id, tok FROM toks
        WHERE tok NOT IN {STOPWORDS!r}
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           count(DISTINCT tok) AS n_types,
           min(tok) AS first_token
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → stopword-filter → per-doc token stats. Explode +
    hash-agg: map-side combine keeps shuffle volume at |docs|, not
    |tokens|."""
    d = tbl(spark, sf_dir, "documents")
    kept = _tokens(d).filter(~F.col("tok").isin(*STOPWORDS))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("tok").alias("n_types"),
            F.min("tok").alias("first_token"),
        )
        .orderBy("doc_id")
    )


@register(
    "llm_tfidf",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS REAL)
               AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    ORDER BY doc_id, term
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF expressed relationally (explode → two aggregates → join)
    so every value is oracle-checkable — unlike HashingTF, which
    buckets terms by an engine hash. Core: api.tfidf (which carries
    the broadcast-DF and smoothed-idf rationale)."""
    from hadoop_deliver_spark.api import tfidf

    d = tbl(spark, sf_dir, "documents")
    return tfidf(d, "doc_id", "text").orderBy("doc_id", "term")


@register(
    "llm_text_stats",
    """
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), per_lang AS (
        SELECT lang,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_tokens,
               count(DISTINCT tok) AS vocab,
               CAST(count(DISTINCT tok) AS REAL) / count(*) AS type_token_ratio
        FROM toks GROUP BY lang
    ), chars AS (
        SELECT lang,
               CAST(avg(n_chars) AS REAL) AS avg_chars,
               CAST(quantile_cont(n_chars, 0.5) AS REAL) AS med_chars
        FROM documents GROUP BY lang
    )
    SELECT p.lang, p.n_docs, p.n_tokens, p.vocab, p.type_token_ratio,
           c.avg_chars, c.med_chars
    FROM per_lang p JOIN chars c USING (lang) ORDER BY p.lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics: doc/token counts, vocabulary
    size, type-token ratio, char-length mean and median."""
    d = tbl(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    per_lang = toks.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("tok").alias("vocab"),
        (F.count_distinct("tok").cast("float") / F.count(F.lit(1)))
        .cast("float")
        .alias("type_token_ratio"),
    )
    chars = d.groupBy("lang").agg(
        F.avg("n_chars").cast("float").alias("avg_chars"),
        F.percentile("n_chars", 0.5).cast("float").alias("med_chars"),
    )
    return per_lang.join(chars, "lang").orderBy("lang")


@register(
    "llm_lang_filter_route",
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de', 'fr')
    GROUP BY lang, source ORDER BY lang, source
    """,
)
def llm_lang_filter_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'delivery' op: filter the corpus to routed languages and
    write one partition directory per lang (every downstream consumer
    gets partition pruning for free), then read the delivery back and
    aggregate it — checking the route actually delivered exactly the
    filtered corpus."""
    from hadoop_deliver_spark.operators.sources import scratch

    out = scratch(sf_dir, "docs_by_lang")
    d = tbl(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de", "fr")
    )
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "llm_multimodal_pack",
    """
    SELECT d.doc_id, d.lang, e.label,
           len(e.embedding) AS emb_dim,
           CAST(e.embedding[1] AS REAL) AS emb_first,
           length(d.text) AS text_len
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def llm_multimodal_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column packing: join documents⋈embeddings into
    struct{text, embedding, meta{lang, source, label}} rows — the
    single-column representation multimodal pipelines carry — then
    project typed fields back out of the struct (what is checked:
    packing loses nothing)."""
    d = tbl(spark, sf_dir, "documents")
    e = tbl(spark, sf_dir, "embeddings")
    packed = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.col("text").alias("text"),
            F.col("embedding").alias("embedding"),
            F.struct(
                F.col("lang").alias("lang"),
                F.col("source").alias("source"),
                F.col("label").alias("label"),
            ).alias("meta"),
        ).alias("mm"),
    )
    return packed.select(
        "doc_id",
        F.col("mm.meta.lang").alias("lang"),
        F.col("mm.meta.label").alias("label"),
        F.size("mm.embedding").alias("emb_dim"),
        F.element_at("mm.embedding", 1).alias("emb_first"),
        F.length("mm.text").alias("text_len"),
    ).orderBy("doc_id")


@register(
    "llm_doc_length_bucket",
    """
    SELECT doc_id, n_chars,
           CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS decile
    FROM documents ORDER BY doc_id
    """,
)
def llm_doc_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket documents into EXACT global length deciles without a
    single-partition window — the 100 TB shape promised by round 3.

    Plan: (1) one agg pass computes percentile_approx split points on
    n_chars (balance only — accuracy does not affect correctness);
    (2) each row gets a deterministic block id = #splits < n_chars
    (pure function of the row, so it is stable across the two driver
    actions — no persist needed, unlike repartitionByRange whose
    sampled boundaries can differ between actions); (3) a tiny
    groupBy(block).count() is collected (≤ _LEN_BLOCKS rows) and
    cumulative offsets go back as a broadcast map literal; (4)
    row_number over a window PARTITIONED by block + offset = exact
    global rank, and ntile(10)'s arithmetic (first N%10 buckets get
    one extra row) is applied to that rank. Every stage is map-side
    or a hash-partitioned shuffle; nothing funnels through one task.
    Matches the `ntile(10) OVER (ORDER BY n_chars, doc_id)` oracle
    hash-exactly because ties on n_chars share a block and doc_id is
    unique. (Implementation shared via operators/ranking.py —
    events_rfm_scores runs the same core three times.)"""
    from hadoop_deliver_spark.operators.ranking import exact_global_ntile

    d = tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return exact_global_ntile(d, "n_chars", "doc_id", 10, "decile").select(
        "doc_id", "n_chars", "decile"
    ).orderBy("doc_id")
