"""Determinism self-check of the benchmark's input generators.

    python3 perfbench/selfcheck.py

Checks, without starting Spark, that

1. the same seed gives identical inputs, also in a second interpreter
   with another hash seed, time zone and start time (so no input depends
   on set iteration order, the clock or the environment);
2. a different seed gives different inputs;
3. the frames handed to the program hold exactly the generated rows:
   ``Batch.frame()`` / ``Corpus.frame()`` round-trip to the generator's
   tuples, and every load timestamp is the fixed origin plus the load
   index.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

DAY, HOUR = dt.timedelta(days=1), dt.timedelta(hours=1)


def _batches(seed: int) -> list[gen.Batch]:
    full = gen.SourceSystem(seed, 2_000)
    out = [full.initial(DAY)]
    out += [full.full_feed(DAY, 0.03, 0.03, 0.02) for _ in range(3)]
    trickle = gen.SourceSystem(seed, 2_000)
    out.append(trickle.initial(HOUR))
    out += [trickle.trickle(HOUR, 10, 6, 4, 2) for _ in range(5)]
    return out


def _corpora(seed: int) -> list[gen.Corpus]:
    return [gen.corpus(seed, shard, 50, 10, 10) for shard in range(3)]


def fingerprint(seed: int) -> str:
    h = hashlib.sha256()
    for b in _batches(seed):
        h.update(repr((b.index, b.ts, b.rows, b.scd2, b.scd1, b.new, b.resent)).encode())
    for c in _corpora(seed):
        h.update(repr((c.docs, c.distinct_texts, c.planted_pairs)).encode())
    return h.hexdigest()


def _frames_hold_only_generated_rows(seed: int) -> list[str]:
    errs = []
    for b in _batches(seed):
        pdf = b.frame()
        rows = list(pdf[list(gen.BUSINESS_COLS)].itertuples(index=False, name=None))
        if rows != b.rows or list(pdf.columns) != [*gen.BUSINESS_COLS, gen.LOAD_TS_COL]:
            errs.append(f"batch {b.index}: frame differs from generated rows")
        if set(pdf[gen.LOAD_TS_COL]) != {b.ts} or b.ts - gen.EPOCH not in (
            DAY * b.index,
            HOUR * b.index,
        ):
            errs.append(f"batch {b.index}: load_ts not derived from the load index")
    for c in _corpora(seed):
        if list(c.frame().itertuples(index=False, name=None)) != c.docs:
            errs.append("corpus frame differs from generated documents")
    return errs


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--fingerprint":
        print(fingerprint(int(sys.argv[2])))
        return 0
    errs = []
    a, b = fingerprint(7), fingerprint(7)
    if a != b:
        errs.append("same seed, same interpreter: inputs differ")
    env = dict(os.environ, PYTHONHASHSEED="12345", TZ="Asia/Kolkata")
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--fingerprint", "7"],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    if child != a:
        errs.append("same seed, other interpreter/hash seed/time zone: inputs differ")
    if fingerprint(8) == a:
        errs.append("different seeds gave identical inputs")
    errs += _frames_hold_only_generated_rows(7)
    for e in errs:
        print("FAIL", e)
    print("selfcheck:", "ok" if not errs else f"{len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
