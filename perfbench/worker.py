"""One workload in one fresh process: set up, warm, time, check.

Started by ``run.py`` (never by hand): it receives the generated input
directory and the wall-clock time at which ``run.py`` spawned it, so
``setup_s`` runs from process start until the session is ready and the
registry is loaded. It writes its measurements as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# no new pass starts after this many seconds of wall time, so the
# process ends well inside the 180 s a run may take
PASS_DEADLINE_S = 120.0


@dataclass
class OpRecord:
    id: int
    name: str
    kind: str
    timed: bool
    t0: float = 0.0
    t1: float = 0.0
    latency: float = 0.0
    ok: bool = False
    error: str = ""
    info: dict = field(default_factory=dict)


class Sampler:
    """Runs ops one after another and keeps their records. An op that
    raises, or whose output check raises, is failed; its latency stays
    out of the latency sample."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.records: list[OpRecord] = []

    def run(self, op, timed: bool) -> OpRecord:
        rec = OpRecord(len(self.records), op.name, op.kind, timed)
        self.records.append(rec)
        self.tracer.op = rec.id
        out = None
        try:
            with self.tracer.span("op", op_name=op.name, kind=op.kind):
                rec.t0 = time.time()
                c0 = time.perf_counter()
                out = op.run()
                rec.latency = time.perf_counter() - c0
                rec.t1 = time.time()
        except Exception as e:  # a failing op is counted, not fatal
            rec.t1 = time.time()
            rec.error = f"run: {type(e).__name__}: {str(e)[:300]}"
        finally:
            self.tracer.op = None
        if not rec.error:
            try:
                rec.info = op.check(out) or {}
                rec.ok = True
            except Exception as e:
                rec.error = f"check: {type(e).__name__}: {str(e)[:300]}"
        print(f"op {rec.id} {'timed' if timed else 'warm'} {rec.name} "
              f"{rec.latency:.3f}s {'ok' if rec.ok else rec.error}", flush=True)
        return rec

    def timed(self) -> list[OpRecord]:
        return [r for r in self.records if r.timed]


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(records: list[OpRecord], setup_s: float, rss_mb: float,
               tail_pct: float) -> dict:
    lat = [r.latency for r in records if r.ok]
    attempted = len(records)
    failed = sum(not r.ok for r in records)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": percentile(lat, tail_pct),
        "ok_ratio": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": rss_mb,
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def machine(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--root", required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    sys.path.insert(0, a.root)

    from spans import Tracer, instrument

    tracer = Tracer(bool(a.trace))
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            from hadoop_deliver_spark.session import get_spark

            spark = get_spark(f"perfbench-{a.workload}")
        with tracer.span("registry.load_all"):
            from hadoop_deliver_spark.registry import load_all

            registry = load_all()
    setup_s = time.time() - a.spawned_at

    # Staged copies and streaming checkpoints go under the work dir,
    # never the package's default /tmp location.
    from hadoop_deliver_spark.operators import sources

    stage = os.path.join(a.work, "hds_stage")
    stage_existed = os.path.exists(stage)
    sources._STAGE = stage

    from workloads import WORKLOADS, Ctx, family_of

    tracer.bind(spark.sparkContext)
    if a.trace:
        instrument(tracer, family_of)
    ctx = Ctx(spark, tracer, a.data, a.work, a.seed, registry)
    wl = WORKLOADS[a.workload](ctx)
    sampler = Sampler(tracer)
    with tracer.span("prepare"):
        wl.prepare()
    print(f"phase prepared {time.time() - a.spawned_at:.1f}s", flush=True)

    # warm pass: JIT, codegen, parquet footers, staged copies
    wl.before_pass(0)
    for op in wl.ops(0):
        sampler.run(op, timed=False)

    t_timed = time.time()
    print(f"phase warm {t_timed - a.spawned_at:.1f}s", flush=True)
    op_time, passes, n = 0.0, 0, 1
    while ((op_time < a.seconds or passes % wl.cycle)
           and time.time() - a.spawned_at < PASS_DEADLINE_S):
        wl.before_pass(n)
        for op in wl.ops(n):
            op_time += sampler.run(op, timed=True).latency
        passes += 1
        n += 1
    t_end = time.time()
    print(f"phase timed {t_end - a.spawned_at:.1f}s", flush=True)

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = (_vm_hwm_mb(jvm_pid)
              + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
    info = machine(spark)
    cores = int(spark.sparkContext.defaultParallelism)
    spark.stop()
    print(f"phase stopped {time.time() - a.spawned_at:.1f}s", flush=True)

    timed = sampler.timed()
    result = {
        "workload": a.workload,
        "seed": a.seed,
        "machine": info,
        "stage_dir_existed": stage_existed,
        "passes": passes,
        "timed_wall_s": t_end - t_timed,
        "tail_pct": wl.tail_pct,
        "attempted": len(timed),
        "failed": sum(not r.ok for r in timed),
        "warm_failed": [r.name + ": " + r.error for r in sampler.records
                        if not r.timed and not r.ok],
        "failures": [r.name + ": " + r.error for r in timed if not r.ok],
        "metrics": end_to_end(timed, setup_s, rss_mb, wl.tail_pct),
        "ops": [r.__dict__ for r in sampler.records],
    }
    if a.trace:
        import layers

        tracer.dump(os.path.join(a.work, "spans.jsonl"))
        result["layers"] = layers.per_layer(
            tracer.spans, os.path.join(a.work, "eventlog"), sampler.records,
            registry, cores)
        result["self_times"] = layers.self_time_table(tracer.spans,
                                                      sampler.records)
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
