"""The four workloads: what one pass runs, and how each op is checked.

A workload turns a :class:`Ctx` (session, tracer, generated inputs,
seed) into passes of :class:`Op`. ``Op.run`` is the timed part; it
returns whatever ``Op.check`` needs, and the check runs after the
clock stops. ``Workload.before_pass`` is untimed set-up for a pass.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd

import checks
import gen

# Query-name families the catalogue is stratified over; a name belongs
# to the family of its first word, and names outside these to "other".
FAMILIES = ("agg", "llm", "ts", "events", "graph", "join", "fn", "scan_sink",
            "stream", "other")


def family_of(name: str) -> str:
    head = name.split("_")[0]
    if head in ("scan", "sink"):
        return "scan_sink"
    return head if head in FAMILIES else "other"


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], Any]


@dataclass
class Ctx:
    spark: Any
    tracer: Any
    data: str
    work: str
    seed: int
    registry: dict
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def _duck(data: str):
    import duckdb

    from hadoop_deliver_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def _rows_pdf(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows])


class Workload:
    name = ""
    sf: float | None = None
    # Percentile reported as op_tail_s: the highest one that keeps at
    # least ten samples beyond it at this workload's usual op count.
    tail_pct = 50
    # Timed passes end on a multiple of this many passes.
    cycle = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        """Untimed: oracles and reference outputs."""

    def before_pass(self, n: int) -> None:
        """Untimed set-up at the start of pass ``n`` (0 = warm pass)."""

    def ops(self, n: int) -> list[Op]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# star_report: the seven headline queries of bench.py at sf0.1
# --------------------------------------------------------------------------

STAR_ORACLES = {
    "q1_pricing_summary": "agg_groupby_basic",
    "q5_regional_join": "join_broadcast",
    "window_top3_orders": "win_row_number_topk",
    "q3_top_orders": """
        SELECT o.o_orderkey, o.o_orderdate,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "events_hourly": """
        SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
               sum(value) AS sv
        FROM events GROUP BY 1, 2""",
    "distinct_users": "SELECT count(DISTINCT user_id) AS du FROM events",
    "topk_lineitem": """
        SELECT l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC LIMIT 100""",
}
STAR_FAMILY = {
    "q1_pricing_summary": "agg", "q3_top_orders": "join",
    "q5_regional_join": "join", "window_top3_orders": "other",
    "events_hourly": "events", "distinct_users": "events",
    "topk_lineitem": "other",
}


def check_star(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    if name in ("q1_pricing_summary", "q5_regional_join",
                "window_top3_orders"):
        checks.parity(got, want, name)
    elif name == "distinct_users":
        checks.frames_close(got[["du"]], want, name)
        du, adu = int(got["du"].iloc[0]), int(got["adu"].iloc[0])
        # approx_count_distinct runs at rsd 0.05: allow three sigma
        if abs(adu - du) > 0.15 * du:
            raise checks.CheckFailed(f"{name}: approx {adu} vs exact {du}")
    elif name == "topk_lineitem":
        # ties at the cut make row sets engine-dependent; the top-100
        # price multiset is not
        checks.frames_close(got[["l_extendedprice"]], want, name)
    else:
        checks.frames_close(got, want, name)


class StarReport(Workload):
    name = "star_report"
    sf = 0.1

    def prepare(self):
        import bench

        self.queries = bench.QUERIES
        duck = _duck(self.ctx.data)
        self.want = {}
        for name, sql in STAR_ORACLES.items():
            q = self.ctx.registry.get(sql)
            self.want[name] = duck.execute(q.oracle if q else sql).df()
        duck.close()

    def ops(self, n):
        names = list(self.queries)
        self.ctx.rng.shuffle(names)
        return [self._op(name) for name in names]

    def _op(self, name):
        ctx, fn = self.ctx, self.queries[name]

        def run():
            with ctx.tracer.span("operators.build", query=name,
                                 family=STAR_FAMILY[name]):
                df = fn(ctx.spark, ctx.data)
            with ctx.tracer.span("operators.exec", family=STAR_FAMILY[name]):
                return df.collect()

        return Op(name, STAR_FAMILY[name], run,
                  lambda rows: check_star(name, _rows_pdf(rows), self.want[name]))


# --------------------------------------------------------------------------
# catalog_sweep: a family-stratified sample of registry queries at sf0.01
# --------------------------------------------------------------------------

# The sample: ten registry queries, one per family named in the query
# names and a sink beside the scan, kept for their low warm cost out of
# a draw of three per family (numpy seed 0, from the queries that took
# at most 1 s at sf0.01 on a 4-core machine). It is fixed: redrawing it
# per seed moved the median op latency by 10-20 % across ten simulated
# seeds, more than the regression bound, so the run seed permutes the
# order and makes the data instead. A pass costs about 8 s on 4 cores.
CATALOG_SAMPLE = {
    "agg": ["agg_stats"],
    "llm": ["llm_bpe_apply"],
    "ts": ["ts_ohlc_bars"],
    "events": ["events_poisson_dispersion"],
    "graph": ["graph_centralization"],
    "join": ["join_scd2_point_in_time"],
    "fn": ["fn_array_setops"],
    "scan_sink": ["scan_csv_reordered_columns", "sink_json_lines"],
    "stream": ["stream_dedup"],
}


class CatalogSweep(Workload):
    name = "catalog_sweep"
    sf = 0.01
    tail_pct = 50  # 2 passes x 10 ops
    # two samples of every query in each run
    cycle = 2

    def prepare(self):
        self.sample = [n for names in CATALOG_SAMPLE.values() for n in names]
        self.duck = _duck(self.ctx.data)
        self.want: dict[str, pd.DataFrame] = {}

    def before_pass(self, n):
        from hadoop_deliver_spark import api

        with self.ctx.tracer.span("api.clear_stage_caches"):
            api.clear_stage_caches()

    def ops(self, n):
        names = list(self.sample)
        self.ctx.rng.shuffle(names)
        return [self._op(name) for name in names]

    def _op(self, name):
        ctx, q = self.ctx, self.ctx.registry[name]
        fam = family_of(name)

        def run():
            df = q.fn(ctx.spark, ctx.data)
            with ctx.tracer.span("operators.exec", family=fam):
                return df.toPandas()

        def check(got):
            if name not in self.want:
                # oracle answer, or for rows-only queries the warm
                # pass's own output
                self.want[name] = (self.duck.execute(q.oracle).df()
                                   if q.oracle else got)
            if q.oracle:
                checks.parity(got, self.want[name], name)
            else:
                checks.rows_only(got, self.want[name], name)

        return Op(name, fam, run, check)


# --------------------------------------------------------------------------
# bulk_delivery: extracts delivered as files at sf0.02
# --------------------------------------------------------------------------

# extract -> (partition column for parquet, float32 columns)
EXTRACTS = {
    "project_expr": ("l_linenumber", ("revenue", "charged")),
    "win_rank_dense": ("l_linenumber", ()),
    "join_self": ("n_pairs", ()),
    "filter_boolean": ("o_orderstatus", ()),
}
FORMATS = ("parquet", "csv", "json")
AVRO_SOURCE = "filter_boolean"
AVRO_SCHEMA = {
    "type": "record", "name": "orders_extract",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
    ],
}
AVRO_DDL = "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"


class BulkDelivery(Workload):
    name = "bulk_delivery"
    sf = 0.02
    tail_pct = 44  # 3 passes x 6 ops
    # every extract meets every format once per cycle, so the mix of
    # (extract, format) pairs is the same for every seed
    cycle = len(FORMATS)

    def prepare(self):
        # the source query's rows, from its DuckDB oracle
        duck = _duck(self.ctx.data)
        self.want = {
            name: checks.content_hash(
                duck.execute(self.ctx.registry[name].oracle).df(), f32)
            for name, (_, f32) in EXTRACTS.items()
        }
        duck.close()
        # the seed's rotation of extracts over formats; pass n shifts it
        self.offset = int(self.ctx.rng.integers(0, len(FORMATS)))

    def ops(self, n):
        units = [[self._deliver(name, FORMATS[(i + n + self.offset)
                                              % len(FORMATS)])]
                 for i, name in enumerate(EXTRACTS)]
        units.append(self._avro())
        order = self.ctx.rng.permutation(len(units))
        return [op for i in order for op in units[i]]

    def _deliver(self, name, fmt):
        from hadoop_deliver_spark.__main__ import main

        ctx = self.ctx
        part, f32 = EXTRACTS[name]
        out = ctx.path("out", f"{name}.{fmt}")
        argv = ["deliver", name, "--sf-dir", ctx.data, "--out", out,
                "--format", fmt]
        if fmt == "parquet":
            argv += ["--partition-by", part]
        elif fmt == "csv":
            argv += ["--single-file"]

        def run():
            with ctx.tracer.span("deliver.main", fmt=fmt, query=name):
                rc = main(argv)
            return rc

        def check(rc):
            if rc != 0:
                raise checks.CheckFailed(f"deliver {name}: exit {rc}")
            checks.delivered_matches(out, fmt, self.want[name], f32,
                                     f"deliver {name} {fmt}")
            return {"files": checks.delivered_files(out),
                    "out_bytes": _dir_bytes(out)}

        return Op(f"deliver:{name}:{fmt}", f"deliver.{fmt}", run, check)

    def before_pass(self, n):
        # write_avro adds files to an existing directory
        out = self.ctx.path("out", "avro")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)

    def _avro(self):
        from hadoop_deliver_spark import api

        ctx = self.ctx
        out = ctx.path("out", "avro")
        src = AVRO_SOURCE

        def write():
            df = ctx.registry[src].fn(ctx.spark, ctx.data)
            with ctx.tracer.span("avro_io.write"):
                return api.write_avro(df, out, AVRO_SCHEMA).collect()

        def check_write(manifest):
            n = sum(r["n"] for r in manifest)
            if n != self.want[src][0]:
                raise checks.CheckFailed(f"avro write: {n} rows vs "
                                         f"{self.want[src][0]}")
            return {"rows": n}

        def read():
            with ctx.tracer.span("avro_io.read"):
                return api.read_avro(ctx.spark, out, AVRO_DDL).toPandas()

        def check_read(pdf):
            got = checks.content_hash(pdf)
            if got != self.want[src]:
                raise checks.CheckFailed(f"avro read: {got} vs {self.want[src]}")
            return {"rows": len(pdf)}

        # the read follows the write it reads back
        return [Op("avro:write", "avro.write", write, check_write),
                Op("avro:read", "avro.read", read, check_read)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# --------------------------------------------------------------------------
# corpus_dedup: the api.py dedup cores on a seeded corpus
# --------------------------------------------------------------------------

CORPUS_DOCS = 1000
CORPUS_VECS = 1000
DUP_SHARE = 0.05
COSINE_TAU = 0.9


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def before_pass(self, n):
        from pyspark.sql import functions as F

        ctx = self.ctx
        # a fresh directory per pass, so the cold call misses the stage cache
        d = os.path.join(ctx.work, "corpus", f"pass{n}")
        self.corpus = gen.corpus(d, CORPUS_DOCS, CORPUS_VECS,
                                 ctx.seed * 1000 + n, DUP_SHARE)
        self.docs = ctx.spark.read.parquet(f"{d}/documents.parquet")
        self.emb = ctx.spark.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e"))
        self.brute = checks.cosine_brute(self.corpus["vectors"], COSINE_TAU)
        self.pairs_df = None
        self.pairs: set = set()

    def ops(self, n):
        from hadoop_deliver_spark import api
        from pyspark.sql import functions as F

        ctx, c = self.ctx, self.corpus
        split_out = ctx.path("split", "docs")

        def minhash(tau):
            def run():
                df = api.minhash_pairs(self.docs, "doc_id", "text",
                                       threshold=tau)
                if self.pairs_df is None:
                    self.pairs_df = df
                with ctx.tracer.span("operators.exec"):
                    return df.toPandas()
            return run

        def check_minhash(tau):
            def check(got):
                pairs = set(zip(got["id_a"].astype(int), got["id_b"].astype(int)))
                recall = checks.planted_found(pairs, c["doc_pairs"],
                                              f"minhash {tau}")
                checks.jaccard_sample(got, c["texts"], tau, ctx.rng, 50,
                                      f"minhash {tau}")
                if tau == 0.5:
                    self.pairs = pairs
                return {"pairs": len(pairs), "recall": recall}
            return check

        def cc():
            comps = api.connected_components(self.pairs_df, "id_a", "id_b")
            keep = self.docs.join(comps, self.docs["doc_id"] == comps["node_id"],
                                  "left").filter(
                comps["cluster_id"].isNull()
                | (self.docs["doc_id"] == comps["cluster_id"]))
            with ctx.tracer.span("operators.exec"):
                return comps.toPandas(), keep.count()

        def check_cc(r):
            comps, kept = r
            got = dict(zip(comps["node_id"].astype(int),
                           comps["cluster_id"].astype(int)))
            checks.components_match(got, self.pairs, "connected_components")
            want_kept = CORPUS_DOCS - len(got) + len(set(got.values()))
            if kept != want_kept:
                raise checks.CheckFailed(f"keep-one: {kept} vs {want_kept}")

        def cosine():
            df = api.cosine_pairs(self.emb, "vec_id", "e", COSINE_TAU)
            with ctx.tracer.span("operators.exec"):
                return df.toPandas()

        def check_cosine(got):
            pairs = set(zip(got["id_a"].astype(int), got["id_b"].astype(int)))
            checks.cosine_matches(pairs, self.brute, "cosine_pairs")
            checks.planted_found(pairs, c["vec_pairs"], "cosine_pairs")

        def split():
            df = api.dataset_split(self.docs, "text")
            with ctx.tracer.span("operators.exec"):
                df.select("doc_id", "split").write.mode("overwrite").parquet(
                    split_out)
            return split_out

        def check_split(path):
            got = pd.read_parquet(path)
            checks.split_matches(got, c["texts"], "dataset_split")

        # dependency order: the reuse call and the components need the
        # cold call's pairs
        return [
            Op("minhash_pairs@0.5", "api.minhash_pairs.cold", minhash(0.5),
               check_minhash(0.5)),
            Op("minhash_pairs@0.7", "api.minhash_pairs.reuse", minhash(0.7),
               check_minhash(0.7)),
            Op("connected_components", "api.connected_components", cc,
               check_cc),
            Op("cosine_pairs@0.9", "api.cosine_pairs", cosine, check_cosine),
            Op("dataset_split", "api.dataset_split", split, check_split),
        ]


WORKLOADS = {w.name: w for w in (StarReport, BulkDelivery, CatalogSweep,
                                 CorpusDedup)}
