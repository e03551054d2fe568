"""Reference computations the benchmark checks the program against.

Each is written from the definition of the result, in plain Python, and
shares no code with the package under test:

- ``ScdModel`` applies the hybrid SCD1+SCD2 decision matrix (the module
  docstring of ``scd/engine.py``) by comparing column values directly,
  without content hashes and without a table.
- ``check_dimension`` compares a table snapshot with a model snapshot on
  rows per key, active-row values and the version chain.
- ``shingle_jaccard``, ``components`` and ``allowed_misses`` recompute
  the near-duplicate answers: Jaccard over 5-character shingles, the
  minimum-id cluster of each document, and the number of planted pairs
  MinHash banding may miss at its stated miss probability.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

from gen import BUSINESS_COLS, SCD2_COLS, normalize

_SCD2_IDX = tuple(BUSINESS_COLS.index(c) for c in SCD2_COLS)
_SCD1_IDX = tuple(
    i for i, c in enumerate(BUSINESS_COLS) if c != "id" and c not in SCD2_COLS
)

# A version of one key: (business tuple, record_status, effective_from,
# effective_to). Timestamps are epoch microseconds; None is open-ended.
Version = tuple


def _naive_us(ts: dt.datetime) -> int:
    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _us(col):
    return col.to_numpy().astype("datetime64[us]").astype("int64")


class ScdModel:
    """Dimension state as ``{id: (version, ...)}`` ordered oldest first;
    the last version of a key is its current one."""

    def __init__(self):
        self.keys: dict[int, tuple[Version, ...]] = {}

    def apply(self, rows: list[tuple], eff_ts) -> None:
        eff = _naive_us(eff_ts)
        for row in rows:
            hist = self.keys.get(row[0])
            if hist is None:
                self.keys[row[0]] = ((row, "A", eff, None),)
                continue
            cur = hist[-1]
            old = cur[0]
            if any(old[i] != row[i] for i in _SCD2_IDX):
                closed = (old, "I", cur[2], eff)
                self.keys[row[0]] = hist[:-1] + (closed, (row, "A", eff, None))
            elif any(old[i] != row[i] for i in _SCD1_IDX):
                self.keys[row[0]] = hist[:-1] + ((row, "A", cur[2], None),)

    def snapshot(self) -> dict[int, tuple[Version, ...]]:
        # Versions are immutable tuples, so a shallow copy is a snapshot.
        return dict(self.keys)


def table_versions(pdf) -> dict[int, list[Version]]:
    """Group a table snapshot (pandas, as read from the program) into
    per-key versions in the model's shape."""
    out: dict[int, list[Version]] = {}
    cols = [pdf[c].tolist() for c in BUSINESS_COLS]
    eff_from = _us(pdf["effective_from"]).tolist()
    open_ended = pdf["effective_to"].isna().tolist()
    eff_to = _us(pdf["effective_to"].fillna(pdf["effective_from"])).tolist()
    for b, st, ef, et, op in zip(
        zip(*cols), pdf["record_status"].tolist(), eff_from, eff_to, open_ended
    ):
        out.setdefault(b[0], []).append((b, st, ef, None if op else et))
    return out


def check_dimension(table: dict[int, list[Version]], model: dict) -> list[str]:
    """Differences between a table snapshot and the model snapshot of the
    same version; empty when they agree."""
    errs: list[str] = []

    def err(msg):
        if len(errs) < 10:
            errs.append(msg)

    if set(table) != set(model):
        err(f"key sets differ: {len(set(table) ^ set(model))} keys in one only")
    for k, want in model.items():
        got = sorted(table.get(k, []), key=lambda v: v[2])
        if len(got) != len(want):
            err(f"id {k}: {len(got)} rows, model has {len(want)}")
            continue
        active = [v for v in got if v[1] == "A" and v[3] is None]
        if len(active) != 1:
            err(f"id {k}: {len(active)} active rows")
        elif active[0][0] != want[-1][0]:
            err(f"id {k}: active values {active[0][0]} != model {want[-1][0]}")
        for a, b in zip(got, got[1:]):
            if a[3] != b[2]:
                err(f"id {k}: effective_to {a[3]} != successor effective_from {b[2]}")
        if Counter(got) != Counter(want):
            err(f"id {k}: versions {got} != model {list(want)}")
    return errs


def version_rows(snapshot: dict, k: int) -> list[Version]:
    return sorted(snapshot.get(k, ()), key=lambda v: v[2])


def active_aggregate(snapshot: dict, min_balance: int) -> dict[str, tuple]:
    """Answer of the benchmark's aggregate scan for one version:
    per tier, (active rows, sum of balance, distinct cities) over active
    rows with balance >= min_balance."""
    ti, bi, ci = (BUSINESS_COLS.index(c) for c in ("tier", "balance", "city"))
    acc: dict[str, list] = {}
    for hist in snapshot.values():
        row = hist[-1][0]
        if hist[-1][1] != "A" or row[bi] < min_balance:
            continue
        a = acc.setdefault(row[ti], [0, 0, set()])
        a[0] += 1
        a[1] += row[bi]
        a[2].add(row[ci])
    return {t: (n, s, len(c)) for t, (n, s, c) in acc.items()}


# --- documents --------------------------------------------------------------


def shingles(text: str, k: int = 5) -> set[str]:
    norm = normalize(text)
    return {norm[i : i + k] for i in range(max(len(norm) - (k - 1), 1))}


def shingle_jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def components(ids, pairs) -> dict[int, int]:
    """Minimum id of each document's connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def lsh_miss_probability(j: float, rows: int = 4, bands: int = 16) -> float:
    """Probability that banding never puts a pair of Jaccard ``j`` in a
    common bucket: ``(1 - j**rows) ** bands`` (the rate the
    ``minhash_lsh_pairs`` docstring states for its 16 x 4 banding)."""
    return (1.0 - j**rows) ** bands


def allowed_misses(miss_probs: list[float], tail: float = 1e-6) -> int:
    """Smallest m with P(Poisson(sum p) > m) < tail: more misses than
    this are not banding luck but a defect."""
    lam = sum(miss_probs)
    term = math.exp(-lam)
    cdf, m = term, 0
    while 1.0 - cdf >= tail:
        m += 1
        term *= lam / m
        cdf += term
    return m
