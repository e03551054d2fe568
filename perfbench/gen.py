"""Seeded input generators for the platform benchmark.

Everything the program under test receives is built here from the
workload seed and nothing else: no clock, no environment, no files.
The same seed gives byte-identical inputs (``selfcheck.py`` asserts it).

Two generators:

- ``SourceSystem``: an upstream system of record for a customer
  dimension. Each call to ``full_feed`` / ``trickle`` advances it by one
  load and returns the batch the warehouse receives plus the counts of
  each change kind it planted (SCD2, SCD1, new key, unchanged resend).
- ``corpus``: a document shard with planted exact copies and one-token
  near-duplicates, plus the ground truth the checks need.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass, field

import pandas as pd

# Business columns of the dimension, in batch order. ``id`` is the PK,
# ``city``/``tier`` are history-tracked (SCD2), the rest are
# overwritten in place (SCD1).
PK_COL = "id"
SCD2_COLS = ("city", "tier")
BUSINESS_COLS = ("id", "name", "email", "city", "tier", "balance", "phone")
LOAD_TS_COL = "load_ts"

CITIES = tuple(f"city{i:03d}" for i in range(120))
TIERS = ("bronze", "silver", "gold", "platinum", "diamond")

# Loads are stamped from a fixed origin plus the load index, so two runs
# of one seed see the same effective dates.
EPOCH = dt.datetime(2024, 1, 1)


def load_ts(load_index: int, step: dt.timedelta) -> dt.datetime:
    return EPOCH + step * load_index


@dataclass
class Batch:
    """One load: the rows handed to ``apply_scd`` and what was planted."""

    index: int
    ts: dt.datetime
    rows: list[tuple]  # BUSINESS_COLS order
    scd2: list[int] = field(default_factory=list)
    scd1: list[int] = field(default_factory=list)
    new: list[int] = field(default_factory=list)
    resent: list[int] = field(default_factory=list)

    def frame(self) -> pd.DataFrame:
        pdf = pd.DataFrame(self.rows, columns=list(BUSINESS_COLS))
        pdf[LOAD_TS_COL] = pd.Timestamp(self.ts)
        return pdf

    def expected_feed(self) -> dict[str, int]:
        """Change-feed rows per ``_change_type`` keyed on
        (id, effective_from): an SCD2 change closes the old version (one
        update pair) and inserts the new one, an SCD1 change is one
        update pair, a new key is one insert, a resend is nothing."""
        pairs = len(self.scd2) + len(self.scd1)
        inserts = len(self.scd2) + len(self.new)
        return {
            k: v
            for k, v in (
                ("update_preimage", pairs),
                ("update_postimage", pairs),
                ("insert", inserts),
            )
            if v
        }


class SourceSystem:
    """Upstream customer master whose rows change load by load."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = random.Random(f"source-{seed}")
        self.rows: dict[int, tuple] = {}
        for k in range(1, n_keys + 1):
            self.rows[k] = self._fresh_row(k)
        self.next_id = n_keys + 1
        self.loads = 0
        # Trickle loads draw changed keys from a seeded permutation of
        # the initial keys, so the keys changed by consecutive commits
        # are disjoint until the permutation is used up; a change-feed
        # window over several commits then sums their planted counts.
        self._cycle: list[int] = []

    def _fresh_row(self, k: int) -> tuple:
        r = self.rng
        return (
            k,
            f"name-{r.randrange(10**6):06d}",
            f"user{k}@example.com",
            r.choice(CITIES),
            r.choice(TIERS),
            r.randrange(10**7),
            f"+1-555-{r.randrange(10**7):07d}",
        )

    def _scd2_change(self, row: tuple) -> tuple:
        r = self.rng
        city, tier = row[3], row[4]
        if r.random() < 0.5:
            city = r.choice([c for c in CITIES if c != city])
        else:
            tier = r.choice([t for t in TIERS if t != tier])
        balance = row[5] + r.randrange(1, 1000) if r.random() < 0.5 else row[5]
        return row[:3] + (city, tier, balance) + row[6:]

    def _scd1_change(self, row: tuple) -> tuple:
        r = self.rng
        if r.random() < 0.7:
            return row[:5] + (row[5] + r.randrange(1, 10**5), row[6])
        phone = row[6]
        while phone == row[6]:
            phone = f"+1-555-{r.randrange(10**7):07d}"
        return row[:6] + (phone,)

    def initial(self, step: dt.timedelta) -> Batch:
        """Load 0: every key, all of them new to the warehouse."""
        b = Batch(0, load_ts(0, step), list(self.rows.values()))
        b.new = list(self.rows)
        return b

    def _next_keys(self, n: int) -> list[int]:
        out = []
        while len(out) < n:
            if not self._cycle:
                self._cycle = list(self.rows)
                self.rng.shuffle(self._cycle)
            out.append(self._cycle.pop())
        return out

    def _change(self, scd2: list[int], scd1: list[int], n_new: int) -> list[int]:
        for k in scd2:
            self.rows[k] = self._scd2_change(self.rows[k])
        for k in scd1:
            self.rows[k] = self._scd1_change(self.rows[k])
        new = list(range(self.next_id, self.next_id + n_new))
        for k in new:
            self.rows[k] = self._fresh_row(k)
        self.next_id += n_new
        return new

    def full_feed(
        self, step: dt.timedelta, scd2_frac: float, scd1_frac: float, new_frac: float
    ) -> Batch:
        """Daily full snapshot: every key, a few percent of them changed."""
        self.loads += 1
        n = len(self.rows)
        keys = self.rng.sample(sorted(self.rows), int(n * (scd2_frac + scd1_frac)))
        n2 = int(n * scd2_frac)
        scd2, scd1 = keys[:n2], keys[n2:]
        new = self._change(scd2, scd1, int(n * new_frac))
        rows = list(self.rows.values())
        self.rng.shuffle(rows)
        return Batch(self.loads, load_ts(self.loads, step), rows, scd2, scd1, new)

    def trickle(
        self, step: dt.timedelta, n_scd2: int, n_scd1: int, n_new: int, n_resend: int
    ) -> Batch:
        """Change-only load: changed keys, new keys and a few unchanged
        resends (CDC feeds redeliver)."""
        self.loads += 1
        keys = self._next_keys(n_scd2 + n_scd1)
        scd2, scd1 = keys[:n_scd2], keys[n_scd2:]
        new = self._change(scd2, scd1, n_new)
        touched = set(keys) | set(new)
        resent = self.rng.sample(
            sorted(k for k in self.rows if k not in touched), n_resend
        )
        rows = [self.rows[k] for k in keys + new + resent]
        self.rng.shuffle(rows)
        return Batch(self.loads, load_ts(self.loads, step), rows, scd2, scd1, new, resent)


# --- documents --------------------------------------------------------------


def normalize(text: str) -> str:
    """Case- and whitespace-normalized text (what "the same text" means
    for exact dedup)."""
    return re.sub(r"\s+", " ", text.strip().lower())


def _vocab(seed: int, size: int = 3000) -> list[str]:
    r = random.Random(f"vocab-{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(r.choice(letters) for _ in range(r.randint(3, 9))))
    return sorted(words)


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    distinct_texts: int  # distinct normalized texts
    planted_pairs: list[tuple[int, int]]  # (base id, near-dup id)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.docs, columns=["doc_id", "text"])


def corpus(seed: int, shard: int, n_base: int, n_exact: int, n_near: int) -> Corpus:
    """Shard ``shard`` of the corpus: ``n_base`` distinct documents of
    30-34 tokens (near-equal work per shard), ``n_exact`` copies of some
    of them (half byte-equal, half differing only in case and spacing)
    and ``n_near`` one-token edits of distinct base documents."""
    vocab = _vocab(seed)
    r = random.Random(f"corpus-{seed}-{shard}")
    base = [
        " ".join(r.choice(vocab) for _ in range(r.randint(30, 34)))
        for _ in range(n_base)
    ]
    texts: list[tuple[str, int | None]] = [(t, None) for t in base]
    for i in range(n_exact):
        src = base[r.randrange(n_base)]
        if i % 2:
            words = src.split(" ")
            j = r.randrange(len(words))
            words[j] = words[j].upper()
            src = "  " + "  ".join(words) + " "
        texts.append((src, None))
    for b in r.sample(range(n_base), n_near):
        words = base[b].split(" ")
        j = r.randrange(len(words))
        words[j] = r.choice([w for w in vocab if w != words[j]])
        texts.append((" ".join(words), b))
    ids = r.sample(range(1, 50 * len(texts)), len(texts))
    docs = [(ids[i], t) for i, (t, _) in enumerate(texts)]
    planted = [(ids[b], ids[i]) for i, (_, b) in enumerate(texts) if b is not None]
    r.shuffle(docs)
    return Corpus(docs, len({normalize(t) for _, t in docs}), planted)
