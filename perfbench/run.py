"""Benchmark of hadoop_deliver_spark: one workload, or all four.

    python3 perfbench/run.py --workload catalog_sweep --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

Run from the root of a checkout. Each workload runs in a fresh worker
process (``worker.py``), one after another, never two at once: the
package names streaming checkpoint directories from a per-process
counter, so concurrent processes would overwrite each other's. The
inputs are generated from ``--seed`` into ``.perfbench_work/`` under the
checkout, which also holds every file the run writes (staged copies,
Spark local dirs, deliveries, the event log).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
With ``--workload all`` the metric names are prefixed by the workload,
and ``--trace 1`` also runs each workload untraced to report the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import METRICS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
             "op_tail_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}
DRIVER_MEM = "1g"
WORKER_TIMEOUT_S = 160


def _session_members(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3 and 6 of stat: state and session id
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def _stop_session(sid: int) -> None:
    """Kill whatever is left of the worker's session and wait until it
    is gone. The session holds the Spark JVM and the PySpark daemon,
    which moves itself to a process group of its own."""
    for _ in range(100):
        pids = _session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    data = os.path.join(work, "data")
    if WORKLOADS[workload].sf:
        gen.star(data, WORKLOADS[workload].sf, seed)

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
        # Python workers unpickle the package's functions by module name
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
    })
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={work}/tmp"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", f"spark.eventLog.dir=file://{work}/eventlog"]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--data", data, "--work", work, "--root", ROOT, "--out", out,
           "--spawned-at", repr(time.time())]
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            proc.kill()
            proc.wait()
            _stop_session(proc.pid)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{workload} worker failed (exit {rc}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def report(res: dict) -> None:
    """Human-readable lines for one workload's result."""
    m = res["metrics"]
    print(f"== {res['workload']} seed={res['seed']} passes={res['passes']} "
          f"timed ops={res['attempted']} failed={res['failed']} "
          f"tail=p{res['tail_pct']}")
    print(f"   machine: {json.dumps(res['machine'])}; stage dir existed at "
          f"start: {res['stage_dir_existed']}")
    for k, unit in E2E_UNITS.items():
        print(f"   {k:<14} {m[k]:>12.4f} {unit}")
    for f in res["warm_failed"]:
        print(f"   FAILED (warm pass) {f}")
    for f in res["failures"]:
        print(f"   FAILED {f}")
    if "layers" in res:
        print("   per-layer (timed ops):")
        for k, (unit, _, base) in METRICS.items():
            v = res["layers"][k]
            if v:
                print(f"     {k:<32} {v:>12.4f} {unit:<6} [{base}]")
        op_time = sum(o["latency"] for o in res["ops"]
                      if o["timed"] and o["ok"])
        print(f"   span self time (timed ops, total {op_time:.3f} s):")
        for name, calls, total, self_s in res["self_times"]:
            print(f"     {name:<28} calls={calls:<5} total={total:9.3f} s "
                  f"self={self_s:9.3f} s ({self_s / op_time:6.1%})")


def _mean_op_s(res: dict) -> float:
    lat = [o["latency"] for o in res["ops"] if o["timed"] and o["ok"]]
    return sum(lat) / len(lat)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadoop_deliver_spark")):
        print(f"no hadoop_deliver_spark package under {ROOT}", file=sys.stderr)
        return 2

    if a.workload != "all":
        res = run_one(a.workload, a.seed, a.seconds, a.trace)
        report(res)
        metrics = res["layers"] if a.trace else res["metrics"]
        units = ({k: u for k, (u, _, _) in METRICS.items()}
                 if a.trace else E2E_UNITS)
        print(json.dumps({
            "correct": res["failed"] == 0 and not res["warm_failed"],
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0

    correct, attempted, failed, metrics = True, 0, 0, {}
    for wl in WORKLOADS:
        res = run_one(wl, a.seed, a.seconds, 0)
        report(res)
        if a.trace:
            traced = run_one(wl, a.seed, a.seconds, 1)
            report(traced)
            self_s = sum(row[3] for row in traced["self_times"])
            per_op = self_s / sum(o["timed"] and o["ok"]
                                  for o in traced["ops"])
            print(f"   tracing overhead: span self time {per_op:.4f} s per op "
                  f"(traced) vs {_mean_op_s(res):.4f} s untraced mean op "
                  f"latency, same seed: "
                  f"{per_op / _mean_op_s(res) - 1:+.1%}")
        correct &= res["failed"] == 0 and not res["warm_failed"]
        attempted += res["attempted"]
        failed += res["failed"]
        for k, v in res["metrics"].items():
            metrics[f"{wl}.{k}"] = {"value": v, "unit": E2E_UNITS[k]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
