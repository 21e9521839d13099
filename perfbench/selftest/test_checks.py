"""Each output check rejects a corrupted result, and a rejected result
counts toward the failed ops. No Spark needed:

    python3 -m pytest perfbench/selftest -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import gen  # noqa: E402
from checks import CheckFailed  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402
from worker import Sampler, end_to_end  # noqa: E402
from workloads import Op, check_star, family_of  # noqa: E402


def frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0],
                         "s": ["a", "b", "c"]})


def test_frames_close_rejects_changed_value():
    checks.frames_close(frame().iloc[::-1], frame(), "t")
    bad = frame()
    bad.loc[1, "v"] = 1.3
    with pytest.raises(CheckFailed):
        checks.frames_close(bad, frame(), "t")
    with pytest.raises(CheckFailed):
        checks.frames_close(frame().iloc[:2], frame(), "t")


def test_parity_rejects_changed_value():
    checks.parity(frame(), frame(), "t")
    bad = frame()
    bad.loc[0, "s"] = "z"
    with pytest.raises(CheckFailed):
        checks.parity(bad, frame(), "t")


def test_rows_only_rejects_lost_rows_and_columns():
    checks.rows_only(frame(), frame(), "t")
    with pytest.raises(CheckFailed):
        checks.rows_only(frame().iloc[:0], frame(), "t")
    with pytest.raises(CheckFailed):
        checks.rows_only(frame()[["k"]], frame(), "t")


def test_star_distinct_users_rejects_bad_estimate():
    want = pd.DataFrame({"du": [100]})
    check_star("distinct_users", pd.DataFrame({"du": [100], "adu": [102]}), want)
    with pytest.raises(CheckFailed):
        check_star("distinct_users",
                   pd.DataFrame({"du": [100], "adu": [120]}), want)


def _deliver(tmp_path, fmt, df):
    out = tmp_path / fmt
    out.mkdir()
    if fmt == "parquet":
        df.to_parquet(out / "part-0.parquet")
    elif fmt == "csv":
        df.to_csv(out / "part-0.csv", index=False)
    else:
        df.to_json(out / "part-0.json", orient="records", lines=True)
    (out / "_SUCCESS").touch()
    return str(out)


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_delivered_matches_rejects_changed_row(tmp_path, fmt):
    src = pd.DataFrame({"k": np.arange(50, dtype=np.int64),
                        "r": (np.arange(50) / 7).astype(np.float32)})
    want = checks.content_hash(src, ("r",))
    checks.delivered_matches(_deliver(tmp_path, fmt, src), fmt, want, ("r",))
    bad = src.copy()
    bad.loc[3, "r"] = np.float32(99.5)
    (tmp_path / "bad").mkdir()
    path = _deliver(tmp_path / "bad", fmt, bad)
    with pytest.raises(CheckFailed):
        checks.delivered_matches(path, fmt, want, ("r",))


def test_planted_and_jaccard_checks_reject_corruption(tmp_path):
    c = gen.corpus(str(tmp_path), 200, 50, seed=3)
    planted = c["doc_pairs"]
    pairs = {(min(a, b), max(a, b)) for a, b in planted}
    assert checks.planted_found(pairs, planted, "t") == 1.0
    with pytest.raises(CheckFailed):
        checks.planted_found(set(list(pairs)[1:]), planted, "t")
    rows = pd.DataFrame(
        [(a, b, checks.jaccard(c["texts"][a], c["texts"][b]))
         for a, b in sorted(pairs)], columns=["id_a", "id_b", "jaccard"])
    rng = np.random.default_rng(0)
    checks.jaccard_sample(rows, c["texts"], 0.5, rng, 50, "t")
    rows.loc[:, "jaccard"] = 0.51
    with pytest.raises(CheckFailed):
        checks.jaccard_sample(rows, c["texts"], 0.5, rng, 50, "t")


def test_cosine_check_rejects_missed_and_spurious_pairs(tmp_path):
    c = gen.corpus(str(tmp_path), 20, 300, seed=4)
    brute = checks.cosine_brute(c["vectors"], 0.9)
    sure = brute[0]
    assert sure, "planted near-duplicate vectors must pass tau=0.9"
    checks.cosine_matches(set(sure), brute, "t")
    with pytest.raises(CheckFailed):
        checks.cosine_matches(set(list(sure)[1:]), brute, "t")
    far = next((0, j) for j in range(1, 300) if (0, j) not in brute[1])
    with pytest.raises(CheckFailed):
        checks.cosine_matches(set(sure) | {far}, brute, "t")


def test_components_check_rejects_wrong_label():
    pairs = [(1, 2), (2, 3), (7, 8)]
    want = checks.components(pairs)
    assert want == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    checks.components_match(dict(want), pairs, "t")
    bad = dict(want)
    bad[3] = 3
    with pytest.raises(CheckFailed):
        checks.components_match(bad, pairs, "t")


def test_split_check_rejects_flipped_split():
    texts = [f"doc {i}" for i in range(40)]
    got = pd.DataFrame({"doc_id": range(40),
                        "split": [checks.split_of(t) for t in texts]})
    checks.split_matches(got, texts, "t")
    got.loc[5, "split"] = "val" if got.loc[5, "split"] != "val" else "test"
    with pytest.raises(CheckFailed):
        checks.split_matches(got, texts, "t")


def test_failed_check_counts_toward_failed_ratio():
    def bad_check(_):
        raise CheckFailed("corrupted")

    def raises():
        raise RuntimeError("op failed")

    sampler = Sampler(Tracer(False))
    for op in (Op("good", "agg", lambda: 1, lambda r: None),
               Op("corrupt", "agg", lambda: 1, bad_check),
               Op("raises", "agg", raises, lambda r: None),
               Op("good2", "agg", lambda: 2, lambda r: None)):
        sampler.run(op, timed=True)
    recs = sampler.timed()
    assert [r.ok for r in recs] == [True, False, False, True]
    m = end_to_end(recs, setup_s=1.0, rss_mb=1.0, tail_pct=50)
    assert m["ok_ratio"] == 0.5


def test_self_times_partition_span_time():
    t = Tracer(True)
    with t.span("op"):
        with t.span("operators.build"):
            with t.span("tables.tbl"):
                pass
        with t.span("operators.exec"):
            pass
    st = self_times(t.spans)
    root = t.spans[0]
    assert abs(sum(st.values()) - (root.t1 - root.t0)) < 1e-9
    assert covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


def test_family_labels():
    assert family_of("agg_groupby_basic") == "agg"
    assert family_of("scan_parquet") == "scan_sink"
    assert family_of("sink_avro") == "scan_sink"
    assert family_of("win_rank_dense") == "other"


def test_generators_repeat_per_seed(tmp_path):
    a = gen.star(str(tmp_path / "a"), 0.001, seed=5)
    b = gen.star(str(tmp_path / "b"), 0.001, seed=5)
    for t in ("lineitem", "events", "documents", "embeddings"):
        assert (pd.read_parquet(f"{a}/{t}.parquet")
                .equals(pd.read_parquet(f"{b}/{t}.parquet")))


def test_benchmark_json_matches_the_code():
    import json

    from layers import METRICS
    from run import E2E_UNITS
    from workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: (u, b) for k, (u, b, _) in METRICS.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
