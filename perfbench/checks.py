"""Output checks. Each raises :class:`CheckFailed` on a wrong result.

They run outside the timed region, on results the op has already
materialised (pandas frames, delivered files, id pairs), and need
neither Spark nor the package: ``duckdb``, ``pandas`` and ``numpy``
only, plus the repository's own parity comparator for the catalogue.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd


class CheckFailed(Exception):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None) if v.tzinfo else v
    return v


def frames_close(got: pd.DataFrame, want: pd.DataFrame, name: str,
                 rel_tol: float = 1e-6) -> None:
    """Same column set, same row count, and the same rows in any order,
    floats within ``rel_tol`` (the engines sum doubles in different
    orders)."""
    _require(sorted(got.columns) == sorted(want.columns),
             f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
    _require(len(got) == len(want), f"{name}: {len(got)} rows vs {len(want)}")
    cols = sorted(want.columns)

    def rows(df):
        out = [[_canon(v) for v in r]
               for r in df[cols].itertuples(index=False, name=None)]
        return sorted(out, key=lambda r: [(x is None, str(x) if not
                                           isinstance(x, (int, float)) else
                                           f"{x:+.6e}") for x in r])

    for i, (a, b) in enumerate(zip(rows(got), rows(want))):
        for c, x, y in zip(cols, a, b):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                ok = math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9)
            else:
                ok = x == y
            _require(ok, f"{name}: row {i} col {c}: {x!r} vs {y!r}")


def parity(got: pd.DataFrame, want: pd.DataFrame, name: str) -> None:
    """The repository's driver-style comparator (tests/parity.py)."""
    from tests.parity import assert_frames_match

    try:
        assert_frames_match(got, want, name)
    except AssertionError as e:
        raise CheckFailed(str(e)) from None


def rows_only(got: pd.DataFrame, ref: pd.DataFrame, name: str) -> None:
    """For queries without an oracle: the warm pass's column set, and
    rows whenever the warm pass had rows."""
    _require(list(got.columns) == list(ref.columns),
             f"{name}: columns {list(got.columns)} vs {list(ref.columns)}")
    _require(len(got) > 0 or len(ref) == 0, f"{name}: no rows")


# --------------------------------------------------------------------------
# delivered files
# --------------------------------------------------------------------------


def content_hash(df: pd.DataFrame, float32_cols=()) -> tuple[int, int]:
    """(row count, order-insensitive content hash). Columns are taken
    in name order: integers as int64, floats by their float64 bits and
    anything else as text. ``float32_cols`` are rounded to float32
    first, so a value read back from CSV or JSON text hashes like the
    float32 the query produced."""
    canon = {}
    for c in sorted(df.columns):
        s = df[c].reset_index(drop=True)
        if c in float32_cols:
            s = s.astype("float64").astype("float32")
        if pd.api.types.is_float_dtype(s):
            s = (s.astype("float64") + 0.0).to_numpy().view(np.int64)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        else:
            s = s.astype(str)
        canon[c] = s
    h = pd.util.hash_pandas_object(pd.DataFrame(canon), index=False)
    return len(df), int(h.to_numpy(np.uint64).sum(dtype=np.uint64))


def read_delivered(path: str, fmt: str) -> pd.DataFrame:
    """Read a delivered result set back with DuckDB."""
    con = duckdb.connect()
    try:
        if fmt == "parquet":
            q = (f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                 "hive_partitioning = 1)")
        elif fmt == "csv":
            q = (f"SELECT * FROM read_csv('{path}/*.csv', header = true, "
                 "auto_detect = true)")
        elif fmt == "json":
            q = (f"SELECT * FROM read_json_auto('{path}/*.json', "
                 "format = 'newline_delimited')")
        else:
            raise ValueError(fmt)
        return con.execute(q).df()
    finally:
        con.close()


def delivered_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files
                 if not f.startswith((".", "_")) and not f.endswith(".crc"))
    return n


def delivered_matches(path: str, fmt: str, want: tuple[int, int],
                      float32_cols=(), name: str = "") -> None:
    """The delivered files hold exactly the source query's rows."""
    _require(os.path.exists(os.path.join(path, "_SUCCESS")),
             f"{name}: no _SUCCESS marker in {path}")
    got = content_hash(read_delivered(path, fmt), float32_cols)
    _require(got[0] == want[0], f"{name}: {got[0]} rows vs {want[0]}")
    _require(got[1] == want[1], f"{name}: content hash differs")


# --------------------------------------------------------------------------
# dedup cores
# --------------------------------------------------------------------------


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def planted_found(pairs: set[tuple[int, int]], planted, name: str) -> float:
    """Every planted (original, copy) pair is reported; returns recall."""
    want = {(min(a, b), max(a, b)) for a, b in planted}
    missing = want - pairs
    _require(not missing, f"{name}: {len(missing)} of {len(want)} planted "
             f"pairs missing, e.g. {sorted(missing)[:3]}")
    return 1.0 if want else 0.0


def jaccard_sample(rows: pd.DataFrame, texts: list[str], tau: float,
                   rng: np.random.Generator, n: int, name: str) -> None:
    """Exact Jaccard recomputed on a sample of the reported pairs."""
    _require(len(rows) > 0, f"{name}: no pairs")
    idx = rng.choice(len(rows), min(n, len(rows)), replace=False)
    for a, b, j in rows.iloc[idx][["id_a", "id_b", "jaccard"]].itertuples(
            index=False, name=None):
        exact = jaccard(texts[int(a)], texts[int(b)])
        _require(exact >= tau - 1e-6, f"{name}: ({a},{b}) J={exact} < {tau}")
        _require(abs(exact - float(j)) <= 1e-6,
                 f"{name}: ({a},{b}) reported {j}, exact {exact}")


def cosine_brute(vectors: np.ndarray, tau: float, margin: float = 1e-5):
    """(pairs with cos >= tau + margin, pairs with cos >= tau - margin)
    by numpy brute force; pairs inside the margin may go either way."""
    v = vectors.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sim = v @ v.T
    iu = np.triu_indices(len(v), 1)
    s = sim[iu]
    sure = set(zip(iu[0][s >= tau + margin].tolist(),
                   iu[1][s >= tau + margin].tolist()))
    maybe = set(zip(iu[0][s >= tau - margin].tolist(),
                    iu[1][s >= tau - margin].tolist()))
    return sure, maybe


def cosine_matches(pairs: set[tuple[int, int]], brute, name: str) -> None:
    sure, maybe = brute
    _require(sure <= pairs, f"{name}: {len(sure - pairs)} pairs missed")
    _require(pairs <= maybe, f"{name}: {len(pairs - maybe)} pairs spurious")


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def components_match(got: dict[int, int], pairs, name: str) -> None:
    want = components(pairs)
    _require(got == want, f"{name}: {sum(got.get(k) != v for k, v in want.items())}"
             f" of {len(want)} labels differ")


def split_of(text: str, val=("c", "d"), test=("e", "f")) -> str:
    nib = hashlib.md5(text.encode()).hexdigest()[0]
    return "val" if nib in val else "test" if nib in test else "train"


def split_matches(got: pd.DataFrame, texts: list[str], name: str) -> None:
    _require(len(got) == len(texts), f"{name}: {len(got)} rows vs {len(texts)}")
    for i, s in got[["doc_id", "split"]].itertuples(index=False, name=None):
        _require(split_of(texts[int(i)]) == s, f"{name}: doc {i} split {s}")
