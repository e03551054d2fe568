"""Hybrid SCD Type 1 + Type 2 engine — the reference's core capability,
re-derived Spark-first.

Semantics (decision matrix, reference scd_handler.py:58-163 and
docstrings :15-31, verified by its 3-day scenario test):

| incoming row vs current target row     | outcome                          |
|----------------------------------------|----------------------------------|
| PK not present                         | insert, effective_from = initial |
| PK present, scd_key ==, upd_key ==     | no-op (duplicate)                |
| PK present, scd_key ==, upd_key !=     | SCD1 in-place update             |
| PK present, scd_key !=                 | SCD2: close old ('I',            |
|                                        | effective_to = new.effective_from)|
|                                        | + insert new active              |

Design deltas vs the reference (each deliberate, see SURVEY.md §4.3/§7):
- injectable ``clock`` (reference hard-codes ``datetime.now()`` at
  scd_handler.py:5,85 — untestable);
- no in-place mutation of the caller's ``scd_cols`` list (reference
  mutates ``scd_key_col`` at scd_handler.py:83);
- default execution is ONE atomic commit computed with a single
  full-outer shuffle join on the PK (the reference runs two separate
  Delta MERGE transactions — close-outs then upserts — with a
  failure window between them, and recomputes the shared join subtree
  up to 4x across isEmpty() guards, scd_handler.py:151-163);
- ``mode="two_merge"`` reproduces the reference's exact two-transaction
  flow through ManagedTable.merge for API parity;
- null-safe content hashes by default, ``compat_hash=True`` for the
  reference's ``sha2(concat_ws(''))`` fingerprint (scd_handler.py:102);
- ``upd_key`` never hashes ``effective_from_col`` / ``initial_eff_date_col``
  (the reference hashes every non-key column when no column list is
  given, so a reload whose only change is its load timestamp rewrites
  every row as an SCD1 update).

Scale: the single-commit apply is one dataflow with one shuffle per
side. The target is hashed by PK once; a ``row_number`` window over
that exchange flags each PK's top row, a full-outer PK join (joining
batch rows to top rows only) reuses the same partitioning, and one
``inline`` generator emits 1-2 rows per joined row. Nothing is
checkpointed or unioned, so a small commit's cost is its plan plus one
pass over the target. At 100 TB the target read is partition-pruned on
PK-derived partitions (see ``apply_scd``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import row_fingerprint
from ..functions.ids import assign_dense_ids, fill_identity
from ..sources.managed_table import ManagedTable, MergeClauses

SYSTEM_COLUMNS = (
    "record_status",
    "effective_from",
    "effective_to",
    "dw_inserted_at",
    "dw_updated_at",
    "scd_key",
    "upd_key",
)


@dataclass
class ScdConfig:
    pk_cols: list[str]
    scd_cols: list[str]  # history-tracked (SCD2) columns
    select_cols: list[str] | None = None  # business columns; default: df cols
    effective_from_col: str | None = None
    initial_eff_date_col: str | None = None
    compat_hash: bool = False
    clock: Callable[[], datetime] = datetime.now
    # Collapse the incoming batch to its latest row per PK (by
    # effective_from) before applying. The reference assumes unique PKs
    # per batch and lets Delta MERGE throw otherwise; a streaming
    # micro-batch routinely carries several versions of one entity, and
    # only the newest should become the active row.
    dedupe_batch: bool = True
    # GENERATED-ALWAYS surrogate key (reference account_key identity
    # column, test_scd_handler.py:41). Every inserted row — brand-new
    # entity or new SCD2 version — draws a fresh dense id from the
    # table's high-water mark; surviving rows keep theirs. Values the
    # batch supplies for this column are ignored (GENERATED ALWAYS).
    surrogate_col: str | None = None
    surrogate_start: int = 1  # reference: START WITH 10
    # Auto-compaction after partition-local (merge-on-read) applies:
    # each MoR commit adds one batch dir + DV growth, so a long run of
    # incremental batches accumulates read amplification. When the
    # table crosses maybe_compact's thresholds the snapshot is rewritten
    # once — amortized O(table/threshold) per batch, the Delta
    # auto-compaction trade. Disable for externally-scheduled OPTIMIZE.
    auto_compact: bool = True


def _validate_target_schema(df: DataFrame, cfg: ScdConfig) -> None:
    """The reference enforces its system-column contract only by
    convention (SURVEY.md §1.3); here it is validated explicitly."""
    missing = [c for c in SYSTEM_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"target table missing system columns: {missing}")
    missing_pk = [c for c in cfg.pk_cols if c not in df.columns]
    if missing_pk:
        raise ValueError(f"target table missing pk columns: {missing_pk}")
    if cfg.surrogate_col and cfg.surrogate_col not in df.columns:
        raise ValueError(f"target table missing surrogate column: {cfg.surrogate_col}")


def _surrogate_hwm(table: ManagedTable, target: DataFrame, cfg: ScdConfig) -> int:
    """Next-id high-water mark: max issued key across every commit,
    read from footer stats in the log (no data scan); a Spark agg only
    as the fallback when stats are unavailable."""
    hwm = None
    for v in table._versions():
        m = table.column_max(cfg.surrogate_col, v)
        if m is not None:
            hwm = m if hwm is None else max(hwm, m)
    if hwm is None:
        hwm = target.agg(F.max(cfg.surrogate_col)).first()[0]
    return int(hwm) if hwm is not None else cfg.surrogate_start - 1


def _stamp_incoming(df: DataFrame, cfg: ScdConfig, now: datetime) -> DataFrame:
    """Reference scd_handler.py:85-105: add all system columns to the
    incoming batch, plus the helper ``initial_effective_from``."""
    select_cols = list(cfg.select_cols or [c for c in df.columns])
    select_cols = [c for c in select_cols if c not in SYSTEM_COLUMNS]
    # The load-timestamp columns date a version; they are not content.
    # Hashing them would turn every row of a re-sent snapshot into an
    # SCD1 update.
    not_content = set(cfg.scd_cols) | set(cfg.pk_cols) | {
        cfg.effective_from_col, cfg.initial_eff_date_col
    }
    upd_cols = [c for c in select_cols if c not in not_content]

    now_lit = F.lit(now).cast("timestamp")
    eff_from = (
        F.col(cfg.effective_from_col).cast("timestamp")
        if cfg.effective_from_col
        else now_lit
    )
    initial_eff = (
        F.col(cfg.initial_eff_date_col).cast("timestamp")
        if cfg.initial_eff_date_col
        else eff_from
    )
    stamped = df.select(
        *select_cols,
        F.lit("A").alias("record_status"),
        eff_from.alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        now_lit.alias("dw_inserted_at"),
        now_lit.alias("dw_updated_at"),
        row_fingerprint(cfg.scd_cols + cfg.pk_cols, cfg.compat_hash).alias("scd_key"),
        row_fingerprint(upd_cols, cfg.compat_hash).alias("upd_key"),
        initial_eff.alias("initial_effective_from"),
    )
    if cfg.dedupe_batch:
        w = Window.partitionBy(*cfg.pk_cols).orderBy(
            F.col("effective_from").desc(), F.col("scd_key").desc()
        )
        stamped = (
            stamped.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return stamped


def _top_row_window(cfg: ScdConfig):
    """Newest row first per PK. Reference collapses with a row_number
    window ordered by dw_inserted_at desc, effective_to desc
    (scd_handler.py:72-74)."""
    return Window.partitionBy(*cfg.pk_cols).orderBy(
        F.col("dw_inserted_at").desc(),
        F.coalesce(F.col("effective_to"), F.lit("9999-12-31").cast("timestamp")).desc(),
    )


def _split_current(target: DataFrame, cfg: ScdConfig) -> tuple[DataFrame, DataFrame]:
    """(current row per PK, all other rows), for the two-merge flow."""
    w = _top_row_window(cfg)
    # Both returned frames branch off this window; pin it so the
    # partition+rank shuffle runs once, not once per consumer (the
    # reference recomputes this subtree up to 4x, SURVEY.md §4.3).
    ranked = target.withColumn("__rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    current = ranked.filter(
        (F.col("__rn") == 1)
        & (F.col("record_status") == "A")
        & F.col("effective_to").isNull()
    ).drop("__rn")
    historic = ranked.filter(
        ~(
            (F.col("__rn") == 1)
            & (F.col("record_status") == "A")
            & F.col("effective_to").isNull()
        )
    ).drop("__rn")
    return current, historic


def _sql_literal(v) -> str:
    """Render a partition value as a SQL literal for replaceWhere."""
    import datetime as _dt

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


# Above this many touched partitions the replaceWhere predicate string
# stops being "a handful of reloaded partitions" and the full-snapshot
# commit is the better plan anyway.
_MAX_TOUCHED_PARTITIONS = 256


def _touched_partition_predicate(
    incoming: DataFrame, spec: Sequence[str]
) -> str | None:
    """OR-of-conjunctions predicate covering exactly the partitions the
    batch touches, or None when the batch is empty or touches too many
    partitions for a predicate commit to make sense."""
    touched = incoming.select(*spec).distinct().limit(
        _MAX_TOUCHED_PARTITIONS + 1
    ).collect()
    if not touched or len(touched) > _MAX_TOUCHED_PARTITIONS:
        return None
    terms = []
    for row in touched:
        conj = " AND ".join(
            f"{c} IS NULL" if row[c] is None else f"{c} = {_sql_literal(row[c])}"
            for c in spec
        )
        terms.append(f"({conj})")
    return " OR ".join(terms)


def apply_scd(
    batch: DataFrame,
    table: ManagedTable,
    cfg: ScdConfig,
    mode: str = "single_commit",
) -> int:
    """Apply one incremental batch; returns the committed version.

    Scale path: when the table is hive-partitioned on a subset of the
    PK (so an entity's entire version history lives in exactly one
    partition), the batch is applied partition-locally — the target
    read is partition-pruned to the partitions the batch touches and
    the commit is a ``replaceWhere`` over just those partitions
    (merge-on-read: O(touched slice) I/O, not O(table)). The full-table
    copy-on-write overwrite remains the default for unpartitioned
    tables, where it is the right plan at toy scale and the only exact
    one without a partition contract.
    """
    if mode == "two_merge":
        if cfg.surrogate_col:
            raise ValueError(
                "surrogate_col requires single_commit mode (the "
                "two-merge compatibility flow delegates inserts to "
                "MERGE, which cannot assign identity values)"
            )
        return _apply_scd_two_merge(batch, table, cfg)
    if mode != "single_commit":
        raise ValueError(f"unknown mode {mode!r}")

    target = table.read()
    _validate_target_schema(target, cfg)
    now = cfg.clock()
    if cfg.surrogate_col:
        batch = batch.drop(cfg.surrogate_col)  # GENERATED ALWAYS
    incoming = _stamp_incoming(batch, cfg, now)
    if cfg.surrogate_col:
        incoming = incoming.withColumn(
            cfg.surrogate_col, F.lit(None).cast("long")
        )
    out_cols = [c for c in target.columns]

    # Initial-load fast path: an empty target means every batch row is a
    # brand-new entity (effective_from = initial date). Skips the window
    # collapse and the full-outer join — the common bulk-load case.
    # Emptiness comes from the commit log's recorded row count when
    # available (no Spark job); isEmpty() only as the fallback.
    n_known = table.known_row_count()
    if (n_known == 0) if n_known is not None else target.isEmpty():
        first_load = incoming.withColumn(
            "effective_from", F.col("initial_effective_from")
        ).select(*out_cols)
        if cfg.surrogate_col:
            first_load = assign_dense_ids(
                first_load.drop(cfg.surrogate_col),
                list(cfg.pk_cols),
                start=cfg.surrogate_start,
                id_col=cfg.surrogate_col,
            ).select(*out_cols)
        # overwrite_schema=True skips the guard's table scan: the
        # frame is built from the target's own column list, so the
        # schema is equal by construction.
        return table.overwrite(
            first_load, operation="SCD_APPLY", overwrite_schema=True
        )

    # Partition-local scope: exact iff partition cols are PK-derived
    # (a PK can never move partitions across versions, so every row —
    # current or historic — of a touched entity is inside the slice).
    full_target = target
    spec = table.partition_spec()
    part_pred: str | None = None
    if spec and set(spec) <= set(cfg.pk_cols):
        part_pred = _touched_partition_predicate(incoming, spec)
        if part_pred is not None:
            target = target.filter(F.expr(part_pred))

    # One dataflow: rank the target once, join the batch on each PK's
    # top row, and emit 1-2 rows per joined row from one generator. The
    # window and the join both hash the target by PK, so they share one
    # exchange; no checkpoint, no union.
    t = target.withColumn(
        "__top", F.row_number().over(_top_row_window(cfg)) == 1
    ).alias("t")
    u = incoming.alias("u")
    on = F.col("t.__top")
    for c in cfg.pk_cols:
        on = on & (F.col(f"t.{c}") == F.col(f"u.{c}"))
    j = t.join(u, on=on, how="full_outer")

    def tcol(c):
        return F.col(f"t.{c}")

    def ucol(c):
        return F.col(f"u.{c}")

    now_lit = F.lit(now).cast("timestamp")
    has_t = tcol("__top").isNotNull()
    has_u = ucol("record_status").isNotNull()
    # A batch row meets only its PK's top target row. It updates that
    # row when the row is the open active version; otherwise (new PK,
    # or the top row is closed / soft-deleted) the batch row is an
    # insert with effective_from = initial_effective_from.
    #   scd ==, upd ==  -> duplicate: target row unchanged
    #   scd ==, upd !=  -> SCD1: business cols from u, keep
    #                      t.dw_inserted_at / t.effective_from
    #                      (reference merge excludes them, :38-41)
    #   scd !=          -> SCD2: close t ('I', effective_to =
    #                      u.effective_from) + new active version from u
    matched = (
        has_u
        & has_t
        & (tcol("record_status") == "A")
        & tcol("effective_to").isNull()
    )
    scd_same = tcol("scd_key").eqNullSafe(ucol("scd_key"))
    scd2 = matched & ~scd_same
    scd1 = matched & scd_same & ~tcol("upd_key").eqNullSafe(ucol("upd_key"))
    insert = has_u & ~matched

    def target_row(c: str):
        if c == "record_status":
            return F.when(scd2, F.lit("I")).otherwise(tcol(c))
        if c == "effective_to":
            return F.when(scd2, ucol("effective_from")).otherwise(tcol(c))
        if c == "dw_updated_at":
            return F.when(scd1 | scd2, now_lit).otherwise(tcol(c))
        if c in cfg.pk_cols or c in ("effective_from", "dw_inserted_at", cfg.surrogate_col):
            return tcol(c)
        return F.when(scd1, ucol(c)).otherwise(tcol(c))  # business + keys

    def batch_row(c: str):
        if c == "effective_from":
            return F.when(insert, ucol("initial_effective_from")).otherwise(ucol(c))
        return ucol(c)  # surrogate: null here, drawn from the HWM below

    rows = F.array(
        F.when(has_t, F.struct(*[target_row(c).alias(c) for c in out_cols])),
        F.when(insert | scd2, F.struct(*[batch_row(c).alias(c) for c in out_cols])),
    )
    new_state = j.select(F.inline(F.array_compact(rows)))
    if cfg.surrogate_col:
        # Inserted rows (new entities + new SCD2 versions) carry null
        # keys at this point; fill them from the high-water mark,
        # ordered by (pk, effective_from) for reproducibility. The HWM
        # fallback scans the FULL table, never the partition slice —
        # a slice max would under-read the mark and reissue ids.
        new_state = fill_identity(
            new_state,
            cfg.surrogate_col,
            list(cfg.pk_cols) + ["effective_from"],
            next_value=_surrogate_hwm(table, full_target, cfg) + 1,
        ).select(*out_cols)
    if part_pred is not None:
        # O(touched slice) commit: DV-delete the old slice positions,
        # append the recomputed slice. validate=False is safe by
        # construction — every new_state row comes from the slice or
        # from batch rows whose partition values defined the predicate.
        v = table.overwrite_where(
            new_state, part_pred, validate=False, rewrite=False
        )
        if cfg.auto_compact:
            compacted = table.maybe_compact()
            if compacted is not None:
                v = compacted
        return v
    # overwrite_schema=True only skips the table's expensive own-read
    # guard (we already hold the target frame); TYPE drift must still
    # raise — a batch whose columns coerced to different types through
    # the joins/unionByName above would otherwise silently rewrite the
    # table schema for every downstream reader (ADVICE r3).
    tgt_types = dict(full_target.dtypes)
    drift = sorted(
        c
        for c, dt in new_state.dtypes
        if c in tgt_types and tgt_types[c] != dt
    )
    if drift:
        raise ValueError(
            "SCD apply would change column types "
            f"{[(c, tgt_types[c], dict(new_state.dtypes)[c]) for c in drift]}; "
            "cast the incoming batch to the table schema first"
        )
    return table.overwrite(
        new_state, operation="SCD_APPLY", overwrite_schema=True
    )


def _apply_scd_two_merge(batch: DataFrame, table: ManagedTable, cfg: ScdConfig) -> int:
    """Reference-parity flow: two separate merges (close-outs, then
    active upserts) exactly as scd_handler.py:58-163 sequences them.
    Kept as a compatibility mode; the failure window between the two
    commits is inherent to this shape."""
    target = table.read()
    _validate_target_schema(target, cfg)
    now = cfg.clock()
    incoming = _stamp_incoming(batch, cfg, now)
    current, _ = _split_current(target, cfg)

    # Existing entities whose history changed -> rows to close out
    # (reference scd_handler.py:111-124).
    matched = incoming.alias("u").join(
        current.alias("t"), on=list(cfg.pk_cols), how="inner"
    )
    closeouts = (
        matched.filter(F.col("u.scd_key") != F.col("t.scd_key"))
        .select(
            *[F.col(c) for c in cfg.pk_cols],
            *[
                F.col(f"t.{c}").alias(c)
                for c in current.columns
                if c not in cfg.pk_cols and c not in (
                    "record_status", "effective_to", "dw_updated_at",
                )
            ],
            F.lit("I").alias("record_status"),
            F.col("u.effective_from").alias("effective_to"),
            F.lit(now).cast("timestamp").alias("dw_updated_at"),
        )
        .localCheckpoint(eager=False)  # isEmpty() guard + merge reuse it
    )

    # New entities use initial_effective_from as their version start
    # (reference scd_handler.py:126-134).
    new_entities = incoming.join(
        current.select(*cfg.pk_cols), on=list(cfg.pk_cols), how="left_anti"
    ).withColumn("effective_from", F.col("initial_effective_from"))
    matched_active = incoming.join(
        current.select(*cfg.pk_cols), on=list(cfg.pk_cols), how="left_semi"
    )
    active = matched_active.unionByName(new_entities).drop("initial_effective_from")

    pk_eq = " AND ".join(f"target.{c} = updates.{c}" for c in cfg.pk_cols)
    base_cond = (
        f"{pk_eq} AND target.effective_to IS NULL AND target.record_status = 'A'"
    )
    cols = [c for c in active.columns]

    # Merge 1: close-outs (update ALL columns of the close-out row).
    # The batch is deduped per PK (cfg.dedupe_batch) so the Delta
    # multi-match check is provably redundant — skipped for speed.
    if not closeouts.isEmpty():
        table.merge(
            closeouts,
            MergeClauses(
                condition=base_cond,
                matched_update={c: f"updates.{c}" for c in cols},
                check_multi_match=not cfg.dedupe_batch,
            ),
        )
    # Merge 2: active upserts; scd_key equality in the search condition,
    # upd_key inequality as the update gate, insert-all for the rest
    # (reference scd_handler.py:34-46). Order is load-bearing: merge 1
    # already flipped superseded rows to 'I'.
    return table.merge(
        active,
        MergeClauses(
            condition=base_cond + " AND target.scd_key = updates.scd_key",
            matched_update={
                c: f"updates.{c}"
                for c in cols
                if c not in ("dw_inserted_at", "effective_from")
            },
            matched_condition="target.upd_key != updates.upd_key",
            not_matched_insert={c: f"updates.{c}" for c in cols},
            check_multi_match=not cfg.dedupe_batch,
        ),
    )


def create_scd_target(
    table: ManagedTable,
    batch_schema_df: DataFrame,
    cfg: ScdConfig,
    partition_by: list[str] | None = None,
) -> int:
    """Create an empty SCD target with the contract columns derived from
    a batch's schema (the reference declares DDL by hand,
    test_scd_handler.py:40-57). ``partition_by`` must be a subset of the
    PK to unlock the partition-local apply path (see ``apply_scd``)."""
    if partition_by and not set(partition_by) <= set(cfg.pk_cols):
        raise ValueError(
            "partition_by must be a subset of pk_cols: an SCD2 column "
            "can change across versions, which would scatter one "
            "entity's history across partitions and break "
            "partition-local applies"
        )
    if cfg.surrogate_col:
        batch_schema_df = batch_schema_df.drop(cfg.surrogate_col)
    empty = _stamp_incoming(batch_schema_df.limit(0), cfg, cfg.clock()).drop(
        "initial_effective_from"
    )
    if cfg.surrogate_col:
        empty = empty.select(
            F.lit(None).cast("long").alias(cfg.surrogate_col), "*"
        )
    return table.create(empty, partition_by=partition_by)


def scd_soft_close(
    keys: DataFrame,
    table: ManagedTable,
    cfg: ScdConfig,
    now: datetime | None = None,
    assume_nonempty: bool = False,
) -> int | None:
    """Soft-close (SCD2 logical DELETE) the ACTIVE row of every key in
    ``keys``: ``record_status`` flips to ``'D'`` and ``effective_to``
    closes at ``now`` — history is never physically deleted, matching
    the warehouse contract the reference's upsert-only handler leaves
    to the caller. No-op (None) when the batch has no keys; already-
    closed or unknown keys are untouched (the merge gate requires an
    ACTIVE match). Merge-on-read commit: O(matched rows), never a
    dimension rewrite. ``assume_nonempty`` skips the emptiness probe
    when the caller already counted the batch (the streaming sink's
    one-pass change-type counts)."""
    keys = keys.select(*cfg.pk_cols).distinct()
    if not assume_nonempty and keys.isEmpty():
        return None
    now = now or cfg.clock()
    ts = f"TIMESTAMP '{now.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    pk_eq = " AND ".join(
        f"target.{c} = updates.{c}" for c in cfg.pk_cols
    )
    return table.merge(
        keys,
        MergeClauses(
            condition=f"({pk_eq}) AND target.record_status = 'A'",
            matched_update={
                "record_status": "'D'",
                "effective_to": ts,
                "dw_updated_at": ts,
            },
        ),
        rewrite=False,
    )
