"""Staging has one owner: ``sources.staged`` (shared copies, written
once and renamed into place) and ``sources.scratch`` (per-call
directories private to a process). The unit tests need no Spark; the
two-process test runs the staging and streaming queries in two fresh
processes on one stage root and checks both against DuckDB."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

from hadoop_deliver_spark.operators import sources

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def sf(tmp_path, monkeypatch):
    """An empty fixture dir (its tag hashes no files, which is all
    ``staged`` needs) on a fresh stage root."""
    monkeypatch.setattr(sources, "_STAGE", str(tmp_path / "stage"))
    path = tmp_path / "sf0"
    path.mkdir()
    return str(path)


def _write(path: str, text: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part"), "w") as f:
        f.write(text)


def _read(path: str) -> str:
    with open(os.path.join(path, "part")) as f:
        return f.read()


def test_staged_crash_leaves_no_copy(sf):
    final = sources._stage_dir(sf, "leaf")

    def crash(tmp):
        _write(tmp, "half")
        raise RuntimeError("write died")

    with pytest.raises(RuntimeError, match="write died"):
        sources.staged(sf, "leaf", crash)
    assert not os.path.exists(final)
    assert os.listdir(os.path.dirname(final)) == []

    # a killed writer's leftover sibling is not a staged copy either
    os.makedirs(f"{final}.tmp-1-dead")
    assert sources.staged(sf, "leaf", lambda tmp: _write(tmp, "good")) == final
    assert _read(final) == "good"
    # a hit returns the path without writing
    assert sources.staged(sf, "leaf", lambda tmp: pytest.fail("rewrote")) == final


def test_staged_race_keeps_the_winners_copy(sf):
    final = sources._stage_dir(sf, "leaf")

    def lose(tmp):
        _write(final, "winner")  # another process renamed first
        _write(tmp, "loser")

    assert sources.staged(sf, "leaf", lose) == final
    assert _read(final) == "winner"
    assert os.listdir(os.path.dirname(final)) == ["leaf"]


def test_scratch_dirs_are_fresh_and_under_the_stage_root(sf):
    a, b = sources.scratch(sf, "cp"), sources.scratch(sf, "cp")
    assert a != b
    assert os.listdir(a) == [] and os.listdir(b) == []
    assert a.startswith(sources._STAGE + os.sep)
    assert os.path.basename(a).startswith("cp_")


def test_staging_has_one_owner():
    """Only sources.py may decide whether a staged copy is complete or
    remove a directory: every other operator module goes through
    staged() and scratch()."""
    ops = pathlib.Path(sources.__file__).parent
    banned = ("_SUCCESS", "_counter", "shutil.rmtree", "_ensure_staged")
    found = {
        py.name: hits
        for py in sorted(ops.glob("*.py"))
        if py.name != "sources.py"
        and (hits := [w for w in banned if w in py.read_text()])
    }
    assert not found, found


_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from hadoop_deliver_spark.operators import sources
sources._STAGE = {stage!r}
import duckdb
from hadoop_deliver_spark.registry import load_all
from hadoop_deliver_spark.session import get_spark
from hadoop_deliver_spark.tables import TABLES
from tests.parity import assert_frames_match

sf = {sf!r}
spark = get_spark("staging-race")
R = load_all()
duck = duckdb.connect()
for t in TABLES:
    duck.execute(f"CREATE VIEW {{t}} AS SELECT * FROM read_parquet('{{sf}}/{{t}}.parquet')")
# start staging together: wait until both processes are up
open(sources._STAGE + ".ready-" + sys.argv[1], "w").close()
deadline = time.time() + 120
while sum(os.path.exists(sources._STAGE + ".ready-" + i) for i in "01") < 2:
    assert time.time() < deadline, "peer process never started"
    time.sleep(0.05)
for name in {names!r}:
    got = R[name].fn(spark, sf).toPandas()
    if R[name].oracle is not None:
        assert_frames_match(got, duck.execute(R[name].oracle).df(), name)
print(json.dumps({{"scratch": sources.scratch(sf, "probe")}}))
"""


def test_two_processes_share_one_stage_root(tmp_path, sf_dir):
    """Two processes stage, stream and checkpoint at once on one fresh
    stage root. Both must match their oracles, and their per-call
    directories must differ (a per-process counter gave both the same
    ``cp_stream_0``)."""
    stage = str(tmp_path / "stage")
    names = [
        "scan_csv",
        "stream_dedup",
        "stream_incremental_checkpoint",
        "sink_parquet_partitioned",
        "scan_partition_pruned",
        "join_bucketed_noshuffle",
    ]
    script = _CHILD.format(repo=REPO, stage=stage, sf=sf_dir, names=names)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(i)],
            cwd=str(tmp_path),
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in range(2)
    ]
    outs = []
    try:
        for p in procs:
            out, err = p.communicate(timeout=600)
            assert p.returncode == 0, err[-4000:]
            outs.append(json.loads(out.strip().splitlines()[-1]))
    finally:
        for p in procs:
            p.kill()
            p.wait()
    a, b = (o["scratch"] for o in outs)
    assert a != b
    assert os.path.dirname(os.path.dirname(a)) != os.path.dirname(
        os.path.dirname(b)
    )
    # each process removed its own scratch root at exit
    assert not os.path.exists(a) and not os.path.exists(b)
    # every staged copy is complete: no writer's temporary sibling is left
    leftovers = [
        p.name for p in pathlib.Path(stage).glob("*/*") if ".tmp-" in p.name
    ]
    assert not leftovers, leftovers
