"""The benchmark's workloads and the loop that times them.

A run is: start the session, set up (``builds`` times, median taken),
``warmup_rounds`` untimed rounds, then whole rounds until ``--seconds``
have passed, at least ``min_rounds`` have run and the count is a
multiple of ``cycle``, then the end-of-run checks. Each round issues
the same operations, so the share of failed operations never depends
on how many rounds fit.
Every operation's answer is checked against ``model.py`` or the
generator's planted counts; a wrong answer counts the operation failed.

The package is driven only through its public entry points:
``scd.engine.apply_scd`` / ``create_scd_target``, ``ManagedTable``
(``read``, ``read_pruned``, ``change_feed``, ``history``,
``latest_version``), ``PlatformSQL.sql`` and ``operators.dedup`` /
``operators.text``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import random
import statistics
import sys
import time
from collections import Counter, defaultdict

import gen
import model
from spans import Tracer

KEY_COLS = ["id", "effective_from"]  # change-feed pairing key


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot thread names


def _stat_ticks(path: str) -> tuple[str, int]:
    """(name, utime + stime) from a ``/proc`` ``stat`` file."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    fields = tail.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Bench:
    """Session, timing, checks and result of one run."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)  # kind -> s
        # (busy s, traced, items, CPU s) per measured round
        self.rounds: list[tuple[float, bool, int, float]] = []
        self.op_round: dict[int, int] = {}
        self.writes: list[tuple[int, int, int]] = []  # (round, files, bytes)
        self._op = 0
        self._round: int | None = None  # None outside measured rounds
        self._round_s = 0.0
        self._round_cpu = 0.0
        self._jvm_stat = None  # /proc/<pid>/stat of the session's JVM
        self._jit_ticks: dict[str, int] = {}  # JIT thread stat file -> ticks

    # -- operations -----------------------------------------------------------

    def op(self, kind: str, fn, check=None):
        """Run one timed operation; ``check(result)`` returns a list of
        errors, and any error counts the operation failed."""
        self._op += 1
        self.attempted += 1
        with self.tracer.op(self._op, kind):
            c0 = self._cpu_s()
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception:
                self.failed += 1
                raise
            elapsed = time.perf_counter() - t0
            cpu = self._cpu_s() - c0
        if self._round is not None:
            self.lat[kind].append(elapsed)
            self._round_s += elapsed
            self._round_cpu += cpu
            self.op_round[self._op] = self._round
        errs = check(res) if check is not None else []
        if errs:
            self.failed += 1
            self.errors.append(f"{kind}: {errs[:3]}")
        return res

    def _cpu_s(self) -> float:
        """CPU seconds used so far by this process and by the session's
        JVM: task, planner, scheduler and GC threads, those that have
        ended included, but not the JIT compiler threads, whose work
        fades as the session warms and says nothing about the program's
        cost per operation. The process total counts ended threads; the
        compiler threads, kept alive for the whole session by
        ``-XX:-UseDynamicNumberOfCompilerThreads`` (see ``run.py``), are
        subtracted at their last reading."""
        _, jvm = _stat_ticks(self._jvm_stat)
        for path in self._jit_ticks:
            try:
                self._jit_ticks[path] = _stat_ticks(path)[1]
            except OSError:  # ended after all: keep its last reading
                pass
        jvm -= sum(self._jit_ticks.values())
        return time.process_time() + jvm / _CLK_TCK

    def _find_jit_threads(self, pid: int) -> None:
        for d in os.listdir(f"/proc/{pid}/task"):
            path = f"/proc/{pid}/task/{d}/stat"
            try:
                name, ticks = _stat_ticks(path)
            except OSError:
                continue
            if name.startswith(_JIT_THREADS):
                self._jit_ticks[path] = ticks
        if not self._jit_ticks:
            raise RuntimeError(f"no JIT compiler threads found in JVM {pid}")

    def act(self, name: str, fn):
        """Span around an action that executes a lazily built plan."""
        with self.tracer.span(name):
            return fn()

    def record_write(self, before: dict, after: dict) -> None:
        new = [p for p, s in after.items() if before.get(p) != s]
        n_bytes = sum(after[p] for p in new)
        if self._round is not None:
            self.writes.append((self._round, len(new), n_bytes))
        self.tracer.count("managed_table.files_written", len(new))
        self.tracer.count("managed_table.bytes_written", n_bytes)

    # -- the run --------------------------------------------------------------

    def _session(self):
        from delta_lake_platform_spark import session

        cpus = len(os.sched_getaffinity(0))
        self.cpus = cpus
        self.tracer.on = True
        spark = session.get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # A heap fixed at its maximum (``run.py`` sets that): a
                # heap that G1 grows from a small start triggers
                # concurrent marking cycles at run-dependent times, which
                # moved a trickle run's CPU per round by up to 0.9 s.
                "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
            },
        )
        self.tracer.on = False
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _instrument(self) -> None:
        from delta_lake_platform_spark import session
        from delta_lake_platform_spark.operators import dedup, text
        from delta_lake_platform_spark.scd import engine
        from delta_lake_platform_spark.sources.managed_table import ManagedTable
        from delta_lake_platform_spark.sql import PlatformSQL

        t = self.tracer

        def pruned(args, kwargs, result):
            kept, total = result
            t.count("managed_table.prune_kept", len(kept))
            t.count("managed_table.prune_total", total)

        t.wrap(session, "get_spark", "session.get_spark")
        t.wrap(engine, "apply_scd", "scd.engine")
        t.wrap(ManagedTable, "read", "managed_table.read")
        t.wrap(ManagedTable, "overwrite", "managed_table.overwrite")
        t.wrap(ManagedTable, "change_feed", "managed_table.change_feed")
        t.wrap(ManagedTable, "prune_files", "managed_table.prune_files", pruned)
        t.wrap(PlatformSQL, "sql", "sql.parse_plan")
        for fn in ("exact_dedup", "minhash_lsh_pairs", "connected_components"):
            t.wrap(dedup, fn, f"operators.dedup.{fn}")
        t.wrap(text, "with_quality_score", "operators.text.quality")

    def _jvm_peak_rss(self) -> int:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def run(self) -> dict:
        a = self.args
        if a.trace:
            self._instrument()
        t0 = time.perf_counter()
        self.spark = self._session()
        session_s = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        self._jvm_stat = f"/proc/{pid}/stat"
        self._find_jit_threads(pid)
        w = WORKLOADS[a.workload](self)
        builds = []
        for k in range(w.builds):
            t1 = time.perf_counter()
            w.build(k)
            builds.append(time.perf_counter() - t1)
        # Warm-up: JIT compilation, caches and lazy initialisation of
        # every code path a round takes.
        t1 = time.perf_counter()
        for _ in range(w.warmup_rounds):
            w.round()
        warm_s = time.perf_counter() - t1
        setup_s = session_s + statistics.median(builds) + warm_s

        start = time.perf_counter()
        r = 0
        # With tracing, odd rounds are traced and even ones are not, so
        # the run measures its own tracing overhead: at least one traced
        # round with an untraced round on either side, and two cycles,
        # so that the traced rounds take every position in a cycle.
        min_rounds = max(w.min_rounds, 1 + 2 * a.trace, 2 * w.cycle * a.trace)
        while r < min_rounds or r % w.cycle or time.perf_counter() - start < a.seconds:
            self._round, self._round_s, self._round_cpu = r, 0.0, 0.0
            self.tracer.on = a.trace == 1 and r % 2 == 1
            items = w.round()
            self.rounds.append((self._round_s, self.tracer.on, items, self._round_cpu))
            r += 1
        self.tracer.on = False
        self._round = None
        wall_s = time.perf_counter() - start
        rss = self._jvm_peak_rss()
        w.verify()

        items = sum(x[2] for x in self.rounds)
        detail = {
            "workload": a.workload,
            "seed": a.seed,
            "cpus": self.cpus,
            "jit_threads": len(self._jit_ticks),
            "rounds": len(self.rounds),
            "round_s": [x[0] for x in self.rounds],
            "round_cpu_s": [x[3] for x in self.rounds],
            "round_s_median": _median(x[0] for x in self.rounds),
            "items_per_s": items / sum(x[0] for x in self.rounds),
            "items_per_cpu_s": items / sum(x[3] for x in self.rounds),
            "wall_s": wall_s,
            "session_s": session_s,
            "builds_s": builds,
            "warmup_s": warm_s,
            "ops": {
                k: {"n": len(v), "median_s": statistics.median(v)}
                | ({"p90_s": statistics.quantiles(v, n=10)[-1]} if len(v) >= 100 else {})
                for k, v in sorted(self.lat.items())
            },
            "writes": self.writes,
            "table_bytes": w.table_bytes(),
            "jvm_peak_rss_bytes": rss,
            "errors": self.errors,
        }
        print("detail " + json.dumps(detail), file=sys.stderr)
        if a.trace:
            metrics = self._layer_metrics(w, detail)
            metrics["jvm.peak_rss_bytes"] = (rss, "bytes")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                # A mean, not a median: the rounds are whole cycles, and
                # the one round of each cycle that writes a log
                # checkpoint costs more than the others.
                "round_cpu_s": (statistics.mean(x[3] for x in self.rounds), "s"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _layer_metrics(self, w, detail) -> dict:
        t = self.tracer
        traced = [r for r, x in enumerate(self.rounds) if x[1]]
        out = {"session.get_spark_s": (t.setup_self("session.get_spark"), "s")}
        for m, v in t.per_round_self(self.op_round, traced).items():
            out[m] = (v, "s")
        traced_ops = {i for i, r in self.op_round.items() if r in traced}
        apply_jobs = [
            n for i, n in t.op_jobs.items() if i in traced_ops and t.op_kind[i] == "apply"
        ]
        out["scd.engine.spark_jobs"] = (_median(apply_jobs), "count")
        round_jobs = defaultdict(int)
        for i, n in t.op_jobs.items():
            if i in traced_ops:
                round_jobs[self.op_round[i]] += n
        out["spark.jobs_per_round"] = (_median(round_jobs.values()), "count")
        commits = [(f, b) for r, f, b in self.writes if r in traced]
        out["managed_table.files_written"] = (_median(f for f, _ in commits), "count")
        out["managed_table.bytes_written"] = (_median(b for _, b in commits), "bytes")
        out["managed_table.table_bytes"] = (detail["table_bytes"], "bytes")

        def counted(name):
            return sum(v for op, v in t.counters.get(name, ()) if op in traced_ops)

        total = counted("managed_table.prune_total")
        ratio = counted("managed_table.prune_kept") / total if total else 0.0
        out["managed_table.pruned_files_ratio"] = (ratio, "ratio")
        for kind in OP_KINDS:
            out[f"op.{kind}_s"] = (_median(self.lat.get(kind, ())), "s")
        out["op.round_s"] = (_median(x[0] for x in self.rounds), "s")
        neardup = defaultdict(float)
        for k in ("minhash", "components"):
            for r, s in zip(
                (r for i, r in sorted(self.op_round.items()) if t.op_kind[i] == k),
                self.lat.get(k, ()),
            ):
                neardup[r] += s
        out["op.neardup_s"] = (_median(neardup.values()), "s")
        # Each traced round against the mean of the untraced rounds on
        # either side, which cancels the drift of a warming session.
        t_s = [x[0] for x in self.rounds]
        out["trace.overhead_s"] = (
            _median(
                t_s[r] - (t_s[r - 1] + t_s[r + 1]) / 2 for r in traced if r + 1 < len(t_s)
            ),
            "s",
        )
        return out


OP_KINDS = ("apply", "point_lookup", "scan", "asof_scan", "change_feed", "snapshot_open")


# -- SCD workloads --------------------------------------------------------------


class ScdWorkload:
    """A customer dimension fed by a ``SourceSystem`` through
    ``apply_scd``, mirrored by ``model.ScdModel``."""

    builds = 3
    # The first rounds of a fresh session cost 30-50% more CPU while the
    # JVM compiles the planner and executor paths a commit takes, and
    # CPU per round keeps falling by a few percent a round until about
    # the twelfth. Six rounds take the steep part; the run then measures
    # three (six on a fast host), so its rounds sit at about the same
    # point of that slope whatever the host's speed.
    warmup_rounds = 6
    min_rounds = 1
    n_keys = 10_000
    step = dt.timedelta(days=1)
    # Commits between log checkpoints (default 10). Every third commit
    # checkpoints, so a run of a few dozen seconds crosses several, and
    # a run measures whole cycles of three rounds (one commit a round).
    checkpoint_interval = 3
    cycle = checkpoint_interval

    def __init__(self, b: Bench):
        from pyspark.sql import types as T

        from delta_lake_platform_spark.scd import engine

        self.b = b
        self.spark = b.spark
        self.seed = b.args.seed
        self.engine = engine
        self.cfg = engine.ScdConfig(
            pk_cols=["id"],
            scd_cols=list(gen.SCD2_COLS),
            select_cols=list(gen.BUSINESS_COLS),
            effective_from_col=gen.LOAD_TS_COL,
        )
        types = {int: T.LongType(), str: T.StringType()}
        sample = gen.SourceSystem(0, 1).rows[1]
        self.schema = T.StructType(
            [T.StructField(c, types[type(v)]) for c, v in zip(gen.BUSINESS_COLS, sample)]
            + [T.StructField(gen.LOAD_TS_COL, T.TimestampType())]
        )
        self.path = None
        self.rounds_rng = random.Random(f"rounds-{self.seed}")

    def frame(self, batch: gen.Batch):
        return self.spark.createDataFrame(batch.frame(), self.schema)

    def _cfg(self, batch: gen.Batch):
        return dataclasses.replace(self.cfg, clock=lambda: batch.ts)

    def build(self, k: int) -> None:
        """Fresh table at load 0; the last build is the one measured."""
        from delta_lake_platform_spark.sources.managed_table import ManagedTable
        from delta_lake_platform_spark.sql import PlatformSQL

        if self.path is not None:
            import shutil

            shutil.rmtree(self.path)
        self.path = os.path.join(self.b.work, f"dim-{k}")
        self.src = gen.SourceSystem(self.seed, self.n_keys)
        b0 = self.src.initial(self.step)
        df0 = self.frame(b0)
        self.table = ManagedTable(self.spark, self.path)
        self.engine.create_scd_target(self.table, df0, self.cfg)
        self.table.set_property("checkpointInterval", str(self.checkpoint_interval))
        v = self.engine.apply_scd(df0, self.table, self._cfg(b0))
        self.model = model.ScdModel()
        self.model.apply(b0.rows, b0.ts)
        self.snaps = {v: self.model.snapshot()}
        self.feeds: dict[int, dict] = {}
        self.latest = v
        self.sql = PlatformSQL(self.spark)
        self.sql.register("dim", self.table)
        self.columns = list(self.table.read().columns)

    def _mirror(self, v: int, batch: gen.Batch) -> None:
        self.model.apply(batch.rows, batch.ts)
        self.snaps[v] = self.model.snapshot()
        self.feeds[v] = batch.expected_feed()
        self.latest = v

    def apply(self, batch: gen.Batch) -> int:
        df = self.frame(batch)
        cfg = self._cfg(batch)
        before = _files(self.path)
        v = self.b.op("apply", lambda: self.engine.apply_scd(df, self.table, cfg))
        self.b.record_write(before, _files(self.path))
        self._mirror(v, batch)
        return v

    def feed(self, v0: int, v1: int) -> None:
        want = dict(sum((Counter(self.feeds[v]) for v in range(v0 + 1, v1 + 1)), Counter()))

        def run():
            df = self.table.change_feed(v0, v1, key_cols=KEY_COLS)
            return self.b.act(
                "managed_table.change_feed",
                lambda: df.groupBy("_change_type").count().collect(),
            )

        def check(rows):
            got = {r[0]: r[1] for r in rows}
            return [] if got == want else [f"feed {v0}->{v1}: {got} != planted {want}"]

        self.b.op("change_feed", run, check)

    def lookup(self, k: int, version: int) -> None:
        want = model.version_rows(self.snaps[version], k)
        at = None if version == self.latest else version

        def check(pdf):
            got = sorted(model.table_versions(pdf).get(k, []), key=lambda v: v[2])
            return [] if got == want else [f"id {k} at v{version}: {got} != {want}"]

        self.b.op(
            "point_lookup",
            lambda: self.table.read_pruned("id", k, k, version=at).toPandas(),
            check,
        )

    def scan(self, version: int | None, min_balance: int) -> None:
        src = "dim" if version is None else f"dim VERSION AS OF {version}"
        q = (
            "SELECT tier, COUNT(*) AS n, SUM(balance) AS s, "
            f"COUNT(DISTINCT city) AS c FROM {src} "
            f"WHERE record_status = 'A' AND balance >= {min_balance} GROUP BY tier"
        )
        want = model.active_aggregate(self.snaps[version or self.latest], min_balance)

        def run():
            df = self.sql.sql(q)
            return self.b.act("sql.execute", df.collect)

        def check(rows):
            got = {r.tier: (r.n, r.s, r.c) for r in rows}
            return [] if got == want else [f"{q}: {got} != {want}"]

        self.b.op("scan" if version is None else "asof_scan", run, check)

    def open_snapshot(self) -> None:
        """A fresh handle resolving the latest snapshot: nothing cached."""
        from delta_lake_platform_spark.sources.managed_table import ManagedTable

        def run():
            t = ManagedTable(self.spark, self.path)
            v = t.latest_version()
            cols = t.read(v).columns
            return v, cols, t.history(limit=1)[0]["version"]

        def check(res):
            want = (self.latest, self.columns, self.latest)
            return [] if res == want else [f"snapshot {res} != {want}"]

        self.b.op("snapshot_open", run, check)

    def verify(self) -> None:
        """End of run: the latest version and one sampled older one
        must equal the model's snapshot of the same version."""
        older = sorted(v for v in self.snaps if v != self.latest)
        for v in [self.latest, self.rounds_rng.choice(older)]:
            self.b.op(
                "verify",
                lambda v=v: self.table.read(v).toPandas(),
                lambda pdf, v=v: model.check_dimension(
                    model.table_versions(pdf), self.snaps[v]
                ),
            )

    def table_bytes(self) -> int:
        return sum(_files(self.path).values())


class ScdFullFeed(ScdWorkload):
    """Daily full snapshots: every key every load; 3% SCD2 changes, 3%
    SCD1 changes, 2% new keys. Round: apply, then read that commit's
    change feed. Items: source rows applied."""

    def round(self) -> int:
        batch = self.src.full_feed(self.step, 0.03, 0.03, 0.02)
        v = self.apply(batch)
        self.feed(v - 1, v)
        return len(batch.rows)


class ScdCdcTrickle(ScdWorkload):
    """Change-only loads touching 1% of keys (50 SCD2, 30 SCD1, 20 new,
    10 unchanged resends on 10k keys), each read back before the next.
    Round: apply; point lookups of one just-changed key of each kind;
    that commit's change feed; an aggregate SQL scan of the new version
    and one of a random older version; a fresh handle opening the latest
    snapshot. Items: source rows applied."""

    step = dt.timedelta(hours=1)

    def round(self) -> int:
        rng = self.rounds_rng
        batch = self.src.trickle(self.step, 50, 30, 20, 10)
        v = self.apply(batch)
        for k in (batch.scd2[0], batch.scd1[0], batch.new[0]):
            self.lookup(k, v)
        self.feed(v - 1, v)
        self.scan(None, rng.randrange(10**7))
        self.scan(rng.choice(sorted(self.snaps)[:-1]), rng.randrange(10**7))
        self.open_snapshot()
        return len(batch.rows)


class DimHistoryReads(ScdWorkload):
    """Read-only traffic on a dimension whose history set-up builds:
    2k keys, then 7 trickle commits of 1% (keys disjoint across
    commits). Round: aggregate scan of the current version and of an
    older one through ``PlatformSQL.sql``, three PK point lookups (two
    current, one older), a change-feed window of 1-3 commits, and a
    fresh table handle resolving its latest snapshot. Items: reads."""

    builds = 1
    n_keys = 2_000
    history = 7
    cycle = 1  # no commits after set-up
    step = dt.timedelta(hours=1)

    def build(self, k: int) -> None:
        super().build(k)
        changed: set[int] = set()
        for _ in range(self.history):
            batch = self.src.trickle(self.step, 10, 6, 4, 2)
            touched = set(batch.scd2) | set(batch.scd1) | set(batch.new)
            if touched & changed:
                raise RuntimeError("history commits must change disjoint keys")
            changed |= touched
            v = self.engine.apply_scd(self.frame(batch), self.table, self._cfg(batch))
            self._mirror(v, batch)
        self.changed = sorted(changed)

    def round(self) -> int:
        rng = self.rounds_rng
        older = rng.choice(sorted(self.snaps)[:-1])
        self.scan(None, rng.randrange(10**7))
        self.scan(older, rng.randrange(10**7))
        self.lookup(rng.choice(self.changed), self.latest)
        self.lookup(rng.randint(1, self.n_keys), self.latest)
        self.lookup(rng.choice(self.changed), older)
        w = rng.randint(1, 3)
        v0 = rng.randint(1, self.latest - w)
        self.feed(v0, v0 + w)
        self.open_snapshot()
        return 7


# -- documents ------------------------------------------------------------------


class DocsDedup:
    """A fresh corpus shard per round: 900 distinct documents, 150
    exact copies, 150 one-token near-duplicates. Round: exact dedup,
    MinHash LSH pairs, connected components over those pairs, quality
    scores. Items: documents."""

    builds = 3
    # The first round in a fresh JVM compiles every path and costs about
    # twice a settled one; from the second on, rounds are within a few
    # percent of each other.
    warmup_rounds = 1
    # A round takes 6-9 s: two measured rounds whatever the host's speed.
    min_rounds = 2
    cycle = 1
    n_base, n_exact, n_near = 900, 150, 150
    threshold = 0.8

    def __init__(self, b: Bench):
        self.b = b
        self.spark = b.spark
        self.seed = b.args.seed
        self.shard = 0

    def _shard(self):
        c = gen.corpus(self.seed, self.shard, self.n_base, self.n_exact, self.n_near)
        return c, self.spark.createDataFrame(c.frame(), "doc_id long, text string")

    def build(self, k: int) -> None:
        """Input generation only: the corpus is the whole input."""
        self.shard = 0
        self._shard()

    def round(self) -> int:
        from delta_lake_platform_spark.operators import dedup, text

        b = self.b
        c, df = self._shard()
        self.shard += 1
        texts = dict(c.docs)

        def check_exact(rows):
            errs = []
            if len(rows) != c.distinct_texts:
                errs.append(f"{len(rows)} groups != {c.distinct_texts} distinct texts")
            if sum(r.n_copies for r in rows) != len(c.docs):
                errs.append("copies do not add up to the corpus")
            return errs

        b.op(
            "exact_dedup",
            lambda: b.act(
                "operators.dedup.exact_dedup", lambda: dedup.exact_dedup(df).collect()
            ),
            check_exact,
        )

        def check_pairs(rows):
            errs = []
            for r in rows:
                j = model.shingle_jaccard(texts[r.id_a], texts[r.id_b])
                if j < self.threshold or abs(j - r.jaccard) > 1e-6:
                    errs.append(f"pair {r.id_a},{r.id_b}: jaccard {r.jaccard} vs {j}")
            found = {frozenset((r.id_a, r.id_b)) for r in rows}
            probs = [
                model.lsh_miss_probability(model.shingle_jaccard(texts[a], texts[n]))
                for a, n in c.planted_pairs
            ]
            missed = sum(frozenset(p) not in found for p in c.planted_pairs)
            if missed > model.allowed_misses(probs):
                errs.append(f"{missed} of {len(c.planted_pairs)} planted pairs missed")
            return errs

        pairs = b.op(
            "minhash",
            lambda: b.act(
                "operators.dedup.minhash_lsh_pairs",
                lambda: dedup.minhash_lsh_pairs(df, threshold=self.threshold).collect(),
            ),
            check_pairs,
        )
        edges = [(r.id_a, r.id_b) for r in pairs]
        pair_df = self.spark.createDataFrame(edges, "id_a long, id_b long")
        want = model.components([i for i, _ in c.docs], edges)

        def check_components(rows):
            got = {r.doc_id: r.cluster_id for r in rows}
            return [] if got == want else ["clusters differ from union-find over the pairs"]

        b.op(
            "components",
            lambda: b.act(
                "operators.dedup.connected_components",
                lambda: dedup.connected_components(df.select("doc_id"), pair_df).collect(),
            ),
            check_components,
        )

        def check_quality(rows):
            ok = sorted(r.doc_id for r in rows) == sorted(texts) and all(
                0.0 <= r.quality_score <= 1.0 for r in rows
            )
            return [] if ok else ["quality scores missing or outside [0, 1]"]

        b.op(
            "quality",
            lambda: b.act(
                "operators.text.quality",
                lambda: text.with_quality_score(df)
                .select("doc_id", "quality_score")
                .collect(),
            ),
            check_quality,
        )
        return len(c.docs)

    def verify(self) -> None:
        pass

    def table_bytes(self) -> int:
        return 0


WORKLOADS = {
    "scd_full_feed": ScdFullFeed,
    "scd_cdc_trickle": ScdCdcTrickle,
    "dim_history_reads": DimHistoryReads,
    "docs_dedup": DocsDedup,
}
