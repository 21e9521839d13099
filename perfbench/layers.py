"""Per-layer metrics of a traced run, from its spans and event log.

Every metric is over the timed ops only. Times, counts and volumes
marked "per op" are totals divided by the number of timed ops; the
``*_s`` metrics named after one kind of op are that kind's median op
latency. Metrics a workload does not exercise read 0.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import covered, read_event_log, self_times
from workloads import FAMILIES

MB = 1024.0 * 1024.0

# name -> (unit, which way is better, base the value is taken over)
METRICS = {
    "session.get_spark_s": ("s", "lower", "one call per process"),
    "registry.load_all_s": ("s", "lower", "one call per process"),
    "registry.queries": ("count", "higher", "registered queries"),
    "tables.tbl_s": ("s", "lower", "per op"),
    "tables.tbl_calls": ("count", "lower", "per op"),
    "tables.read_mb": ("MB", "lower", "per op, size of the tables opened"),
    "tables.read_rows": ("count", "lower", "per op, scan input"),
    "operators.build_s": ("s", "lower", "per op"),
    "operators.build_jobs": ("count", "lower", "per op, jobs started while building"),
    "operators.exec_s": ("s", "lower", "per op"),
    **{f"operators.build_s.{f}": ("s", "lower", f"per {f} op")
       for f in FAMILIES},
    **{f"operators.exec_s.{f}": ("s", "lower", f"per {f} op")
       for f in FAMILIES},
    "operators.jobs_per_op": ("count", "lower", "per op"),
    "operators.stages_per_op": ("count", "lower", "per op, stages run"),
    "operators.tasks_per_op": ("count", "lower", "per op"),
    "driver.gap_s": ("s", "lower", "per op, op time with no job running"),
    "scheduler.delay_s": ("s", "lower", "per op, task time minus run time"),
    "shuffle.write_mb": ("MB", "lower", "per op"),
    "shuffle.read_mb": ("MB", "lower", "per op"),
    "shuffle.fetch_wait_s": ("s", "lower", "per op"),
    "spill.mb": ("MB", "lower", "per op, memory + disk"),
    "executor.run_s": ("s", "lower", "per op"),
    "executor.cpu_s": ("s", "lower", "per op"),
    "executor.gc_s": ("s", "lower", "per op"),
    "executor.busy_ratio": ("ratio", "higher", "run time / (op time x cores)"),
    "api.minhash_pairs.cold_s": ("s", "lower", "median, first call on a corpus"),
    "api.minhash_pairs.reuse_s": ("s", "lower", "median, stage-cache hit"),
    "api.connected_components_s": ("s", "lower", "median, with keep-one join"),
    "api.connected_components.jobs": ("count", "lower", "per call"),
    "api.cosine_pairs_s": ("s", "lower", "median"),
    "api.dataset_split_s": ("s", "lower", "median, with parquet write"),
    "api.pairs_found": ("count", "higher", "per cold minhash call"),
    "api.dup_recall": ("ratio", "higher", "planted pairs found / planted"),
    "deliver.write_s.parquet": ("s", "lower", "median deliver call"),
    "deliver.write_s.csv": ("s", "lower", "median deliver call"),
    "deliver.write_s.json": ("s", "lower", "median deliver call"),
    "deliver.files": ("count", "lower", "per deliver call"),
    "deliver.out_mb_per_in_mb": ("ratio", "lower",
                                 "bytes written / table bytes opened"),
    "avro_io.write_s": ("s", "lower", "median write_avro op"),
    "avro_io.read_s": ("s", "lower", "median read_avro op"),
    "avro_io.rows_per_s": ("1/s", "higher", "rows / (write + read op time)"),
    "trace.spans_per_op": ("count", "lower", "per op"),
    "trace.self_time_share": ("ratio", "higher", "span self time / op time"),
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(spans, log_dir: str, records, registry, cores: int) -> dict:
    timed = {r.id: r for r in records if r.timed and r.ok}
    n = len(timed) or 1
    op_time = sum(r.latency for r in timed.values())
    by_id = {s.id: s for s in spans}
    st = self_times(spans)
    out = {k: 0.0 for k in METRICS}

    def dur(s):
        return s.t1 - s.t0

    def first(name):
        return next((dur(s) for s in spans if s.name == name), 0.0)

    out["session.get_spark_s"] = first("session.get_spark")
    out["registry.load_all_s"] = first("registry.load_all")
    out["registry.queries"] = float(len(registry))

    in_ops = [s for s in spans if s.op in timed]
    out["trace.spans_per_op"] = len(in_ops) / n
    out["trace.self_time_share"] = (
        sum(st[s.id] for s in in_ops) / op_time if op_time else 0.0)

    def outermost(name):
        """Spans called ``name`` with no ancestor of the same name."""
        res = []
        for s in in_ops:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and by_id[p].name != name:
                p = by_id[p].parent
            if p is None:
                res.append(s)
        return res

    tbl = outermost("tables.tbl")
    out["tables.tbl_s"] = sum(map(dur, tbl)) / n
    out["tables.tbl_calls"] = len(tbl) / n
    in_bytes = defaultdict(int)
    for s in tbl:
        in_bytes[s.op] += os.path.getsize(s.attrs["path"])
    out["tables.read_mb"] = sum(in_bytes.values()) / MB / n
    build, exe = outermost("operators.build"), outermost("operators.exec")
    out["operators.build_s"] = sum(map(dur, build)) / n
    out["operators.exec_s"] = sum(map(dur, exe)) / n
    fam_ops = defaultdict(int)
    for r in timed.values():
        fam_ops[r.kind] += 1
    for name, group in (("build", build), ("exec", exe)):
        per = defaultdict(float)
        for s in group:
            per[timed[s.op].kind] += dur(s)
        for f in FAMILIES:
            if fam_ops[f]:
                out[f"operators.{name}_s.{f}"] = per[f] / fam_ops[f]

    # event log: jobs -> span -> op
    jobs, stages_done, tasks = read_event_log(log_dir)
    stage_job = {}
    for j in jobs:
        for sid in j.stages:
            stage_job.setdefault(sid, j)

    def op_of(j):
        return by_id[j.span].op if j.span is not None else None

    def under(j, name):
        p = j.span
        while p is not None:
            if by_id[p].name == name:
                return True
            p = by_id[p].parent
        return False

    op_jobs = defaultdict(list)
    for j in jobs:
        if op_of(j) in timed:
            op_jobs[op_of(j)].append(j)
    all_jobs = [j for js in op_jobs.values() for j in js]
    out["operators.jobs_per_op"] = len(all_jobs) / n
    out["operators.build_jobs"] = sum(under(j, "operators.build")
                                      for j in all_jobs) / n
    job_ids = {j.id for j in all_jobs}
    out["operators.stages_per_op"] = sum(
        1 for sid in stages_done
        if sid in stage_job and stage_job[sid].id in job_ids) / n
    op_tasks = defaultdict(list)
    for t in tasks:
        j = stage_job.get(t.stage)
        if j is not None and j.id in job_ids:
            op_tasks[op_of(j)].append(t)
    ts = [t for tl in op_tasks.values() for t in tl]
    out["operators.tasks_per_op"] = len(ts) / n
    out["scheduler.delay_s"] = sum(t.finish - t.launch - t.run_s
                                   for t in ts) / n
    out["shuffle.write_mb"] = sum(t.shuffle_write_b for t in ts) / MB / n
    out["shuffle.read_mb"] = sum(t.shuffle_read_b for t in ts) / MB / n
    out["shuffle.fetch_wait_s"] = sum(t.fetch_wait_s for t in ts) / n
    out["spill.mb"] = sum(t.spill_b for t in ts) / MB / n
    out["executor.run_s"] = sum(t.run_s for t in ts) / n
    out["executor.cpu_s"] = sum(t.cpu_s for t in ts) / n
    out["executor.gc_s"] = sum(t.gc_s for t in ts) / n
    out["executor.busy_ratio"] = (sum(t.run_s for t in ts)
                                  / (op_time * cores) if op_time else 0.0)
    out["tables.read_rows"] = sum(t.read_rows for t in ts) / n
    out["driver.gap_s"] = sum(
        r.t1 - r.t0 - covered([(j.t0, j.t1) for j in op_jobs[i]], r.t0, r.t1)
        for i, r in timed.items()) / n

    # per-kind op medians and check-reported counts
    lat = defaultdict(list)
    for r in timed.values():
        lat[r.kind].append(r.latency)
    for key, kind in (("api.minhash_pairs.cold_s", "api.minhash_pairs.cold"),
                      ("api.minhash_pairs.reuse_s", "api.minhash_pairs.reuse"),
                      ("api.connected_components_s", "api.connected_components"),
                      ("api.cosine_pairs_s", "api.cosine_pairs"),
                      ("api.dataset_split_s", "api.dataset_split"),
                      ("deliver.write_s.parquet", "deliver.parquet"),
                      ("deliver.write_s.csv", "deliver.csv"),
                      ("deliver.write_s.json", "deliver.json")):
        out[key] = _median(lat[kind])
    cc = [i for i, r in timed.items() if r.kind == "api.connected_components"]
    if cc:
        out["api.connected_components.jobs"] = sum(
            len(op_jobs[i]) for i in cc) / len(cc)
    cold = [r.info for r in timed.values()
            if r.kind == "api.minhash_pairs.cold"]
    if cold:
        out["api.pairs_found"] = sum(i["pairs"] for i in cold) / len(cold)
        out["api.dup_recall"] = sum(i["recall"] for i in cold) / len(cold)
    deliver = [i for i, r in timed.items() if r.kind.startswith("deliver.")]
    if deliver:
        out["deliver.files"] = sum(timed[i].info["files"]
                                   for i in deliver) / len(deliver)
        in_b = sum(in_bytes[i] for i in deliver)
        out["deliver.out_mb_per_in_mb"] = (
            sum(timed[i].info["out_bytes"] for i in deliver) / in_b
            if in_b else 0.0)
    out["avro_io.write_s"] = _median(lat["avro.write"])
    out["avro_io.read_s"] = _median(lat["avro.read"])
    avro = [r for r in timed.values() if r.kind.startswith("avro.")]
    if avro:
        out["avro_io.rows_per_s"] = (sum(r.info["rows"] for r in avro)
                                     / sum(r.latency for r in avro))
    return out


def self_time_table(spans, records) -> list[tuple[str, int, float, float]]:
    """(span name, calls, total s, self s) over the timed ops."""
    timed = {r.id for r in records if r.timed and r.ok}
    st = self_times(spans)
    agg = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        if s.op in timed:
            a = agg[s.name]
            a[0] += 1
            a[1] += s.t1 - s.t0
            a[2] += st[s.id]
    return sorted(((k, v[0], v[1], v[2]) for k, v in agg.items()),
                  key=lambda x: -x[3])
