"""Spans and counters for the traced run.

The benchmark never edits the package: ``Tracer.wrap`` swaps a public
entry point (a module function or a ``ManagedTable`` method) for a thin
wrapper at run time, and the workloads open their own spans around the
actions that execute the lazily built plans. Spans live in memory and
are written as one JSON file when the run ends.

A span is (id, name, parent, op, start, end); spans of one benchmark
operation share ``op``. A layer's self time is its span's duration
minus the time its child spans cover. Spark job counts per operation
come from ``SparkContext.statusTracker()``: every operation runs in its
own job group.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Per-layer metric -> span name whose self time it reports.
SELF_TIME_METRICS = {
    "session.get_spark_s": "session.get_spark",
    "scd.engine.self_s": "scd.engine",
    "managed_table.overwrite_s": "managed_table.overwrite",
    "managed_table.read_s": "managed_table.read",
    "managed_table.change_feed_s": "managed_table.change_feed",
    "sql.parse_plan_s": "sql.parse_plan",
    "sql.execute_s": "sql.execute",
    "operators.dedup.minhash_lsh_pairs_s": "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.connected_components_s": "operators.dedup.connected_components",
    "operators.dedup.exact_dedup_s": "operators.dedup.exact_dedup",
    "operators.text.quality_s": "operators.text.quality",
}


class Tracer:
    """Collects spans while ``on``; a no-op context otherwise."""

    def __init__(self):
        self.on = False
        self.sc = None  # SparkContext, attached once the session exists
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.op_kind: dict[int, str] = {}
        self.op_jobs: dict[int, int] = {}
        # counter name -> list of (op id, value)
        self.counters: dict[str, list[tuple[int | None, float]]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.on:
            self.counters[name].append((self.op_id, value))

    @contextmanager
    def op(self, op_id: int, kind: str):
        """One benchmark operation: its own span and, while tracing, its
        own Spark job group."""
        self.op_id = op_id
        self.op_kind[op_id] = kind
        group = f"perfbench-op-{op_id}"
        if self.on:
            self.sc.setJobGroup(group, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            if self.on:
                self.op_jobs[op_id] = len(
                    self.sc.statusTracker().getJobIdsForGroup(group)
                )
            self.op_id = None

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name``; ``after(args, kwargs, result)`` may record counters."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if after is not None and tracer.on:
                after(args, kwargs, result)
            return result

        setattr(owner, attr, wrapped)

    # -- reduction ------------------------------------------------------------

    def self_times(self) -> list[tuple[dict, float]]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [(s, s["end"] - s["start"] - child[s["id"]]) for s in self.spans]

    def per_round_self(self, op_round: dict[int, int], rounds: list[int]) -> dict:
        """metric -> median over ``rounds`` of that round's summed self
        time (0 for a layer the rounds never enter)."""
        by = defaultdict(lambda: defaultdict(float))
        for s, t in self.self_times():
            r = op_round.get(s["op"])
            if r is not None:
                by[s["name"]][r] += t
        return {
            m: statistics.median(by[name][r] for r in rounds) if by.get(name) else 0.0
            for m, name in SELF_TIME_METRICS.items()
            if m != "session.get_spark_s"
        }

    def setup_self(self, name: str) -> float:
        return sum(t for s, t in self.self_times() if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.spans,
                    "ops": {
                        str(i): {"kind": k, "spark_jobs": self.op_jobs.get(i)}
                        for i, k in self.op_kind.items()
                    },
                    "counters": {k: v for k, v in self.counters.items()},
                    **extra,
                },
                f,
            )
