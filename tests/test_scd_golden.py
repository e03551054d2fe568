"""The reference's 3-day golden scenario, ported to pytest.

Data and expectations from /root/repo/FIXTURES.md §3 (reference
test_scd_handler.py:85-285). Runs with a fixed injected clock so
outputs are deterministic, in both execution modes.
"""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime

import pytest

from delta_lake_platform_spark.scd import ScdConfig, apply_scd
from delta_lake_platform_spark.scd.engine import create_scd_target
from delta_lake_platform_spark.sources.managed_table import ManagedTable

SCHEMA = "id long, stock_name string, units long, platform string, reg_ts string, last_modify_ts string"

DAY1 = [
    (1, "Google", 0, "Kite", "2015-12-25 10:05:30", "2025-05-10 10:05:20"),
    (1, "BTC", 0, "Binance", "2016-12-25 11:05:30", "2025-05-11 10:05:20"),
    (3, "ETH", 20, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20"),
]
DAY2 = [
    (1, "Google", 100, "Kite", "2015-12-25 10:05:30", "2025-05-12 10:05:20"),
    (1, "BTC", 171, "Binance", "2016-12-25 11:05:30", "2025-05-12 10:05:20"),
    (3, "ETH", 20, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20"),
]
DAY3 = [
    (1, "Google", 100, "CoinSwitch", "2015-12-25 10:05:30", "2025-05-13 10:05:20"),
    (1, "BTC", 200, "CoinSwitch", "2016-12-25 11:05:30", "2025-05-13 10:05:20"),
]

CLOCKS = {
    1: datetime(2025, 5, 10, 12, 0, 0),
    2: datetime(2025, 5, 12, 12, 0, 0),
    3: datetime(2025, 5, 13, 12, 0, 0),
}


def _cfg(day: int) -> ScdConfig:
    return ScdConfig(
        pk_cols=["id", "stock_name"],
        scd_cols=["units"],
        select_cols=["id", "stock_name", "units", "platform"],
        effective_from_col="last_modify_ts",
        initial_eff_date_col="reg_ts",
        clock=lambda: CLOCKS[day],
    )


@pytest.fixture(params=["single_commit", "two_merge"])
def mode(request):
    return request.param


@pytest.fixture
def table(spark, mode):
    d = tempfile.mkdtemp(prefix=f"scd_{mode}_")
    t = ManagedTable(spark, f"{d}/account_scd2")
    yield t
    shutil.rmtree(d, ignore_errors=True)


def _run_day(spark, table, day, rows, mode):
    df = spark.createDataFrame(rows, SCHEMA)
    apply_scd(df, table, _cfg(day), mode=mode)


def _state(table):
    rows = table.read().collect()
    return {
        (r.id, r.stock_name, str(r.effective_from)): r for r in rows
    }, sorted(rows, key=lambda r: (r.id, r.stock_name, str(r.effective_from)))


def test_three_day_scenario(spark, table, mode):
    df1 = spark.createDataFrame(DAY1, SCHEMA)
    create_scd_target(table, df1, _cfg(1))

    # --- Day 1: initial load (reference test_scd_handler.py:108-121)
    _run_day(spark, table, 1, DAY1, mode)
    state = table.read().collect()
    active = [r for r in state if r.record_status == "A" and r.effective_to is None]
    assert len(state) == 3 and len(active) == 3
    eff = {(r.id, r.stock_name): str(r.effective_from) for r in active}
    # effective_from = reg_ts on first load
    assert eff[(1, "Google")] == "2015-12-25 10:05:30"
    assert eff[(1, "BTC")] == "2016-12-25 11:05:30"
    assert eff[(3, "ETH")] == "2016-12-26 12:07:35"

    # --- Day 2: SCD2 for Google & BTC, duplicate for ETH (:165-213)
    before = {(r.id, r.stock_name, r.scd_key): r for r in table.read().collect()}
    _run_day(spark, table, 2, DAY2, mode)
    state = table.read().collect()
    assert len(state) == 5
    inactive = [r for r in state if r.record_status == "I"]
    assert len(inactive) == 2
    assert all(r.effective_to is not None for r in inactive)
    # continuity: closed effective_to == successor effective_from
    for r in inactive:
        successor = [
            s
            for s in state
            if s.record_status == "A"
            and (s.id, s.stock_name) == (r.id, r.stock_name)
        ][0]
        assert str(r.effective_to) == str(successor.effective_from) == "2025-05-12 10:05:20"
        assert successor.units in (100, 171)
    # ETH duplicate is a byte-identical no-op
    eth = [r for r in state if r.stock_name == "ETH"]
    assert len(eth) == 1
    assert eth[0] == before[(3, "ETH", eth[0].scd_key)]

    # --- Day 3: SCD1 for Google (platform), SCD1+SCD2 for BTC (:251-285)
    _run_day(spark, table, 3, DAY3, mode)
    state = table.read().collect()
    google = sorted(
        [r for r in state if r.stock_name == "Google"], key=lambda r: str(r.effective_from)
    )
    assert len(google) == 2  # updated in place, no new version
    g_active = [r for r in google if r.record_status == "A"][0]
    assert g_active.platform == "CoinSwitch" and g_active.units == 100
    assert str(g_active.effective_from) == "2025-05-12 10:05:20"  # unchanged (SCD1)
    assert g_active.dw_updated_at == CLOCKS[3]  # audit bumped
    assert g_active.dw_inserted_at == CLOCKS[2]  # insert audit preserved

    btc = [r for r in state if r.stock_name == "BTC"]
    assert len(btc) == 3  # third version appended
    b_active = [r for r in btc if r.record_status == "A"][0]
    assert b_active.units == 200 and b_active.platform == "CoinSwitch"
    assert str(b_active.effective_from) == "2025-05-13 10:05:20"
    # one active row per PK, always
    for key in {(r.id, r.stock_name) for r in state}:
        actives = [
            r
            for r in state
            if (r.id, r.stock_name) == key
            and r.record_status == "A"
            and r.effective_to is None
        ]
        assert len(actives) == 1, key


def test_modes_agree(spark):
    """single_commit and two_merge must produce the same final state."""
    results = {}
    for mode in ("single_commit", "two_merge"):
        d = tempfile.mkdtemp(prefix=f"scd_agree_{mode}_")
        t = ManagedTable(spark, f"{d}/tbl")
        df1 = spark.createDataFrame(DAY1, SCHEMA)
        create_scd_target(t, df1, _cfg(1))
        for day, rows in ((1, DAY1), (2, DAY2), (3, DAY3)):
            _run_day(spark, t, day, rows, mode)
        results[mode] = sorted(
            [
                (
                    r.id, r.stock_name, r.units, r.platform, r.record_status,
                    str(r.effective_from), str(r.effective_to),
                    str(r.dw_inserted_at), str(r.dw_updated_at),
                    r.scd_key, r.upd_key,
                )
                for r in t.read().collect()
            ]
        )
        shutil.rmtree(d, ignore_errors=True)
    assert results["single_commit"] == results["two_merge"]


def test_idempotent_reapply(spark):
    """Re-applying an identical batch is a no-op (FIXTURES.md §4.3)."""
    d = tempfile.mkdtemp(prefix="scd_idem_")
    t = ManagedTable(spark, f"{d}/tbl")
    df1 = spark.createDataFrame(DAY1, SCHEMA)
    create_scd_target(t, df1, _cfg(1))
    _run_day(spark, t, 1, DAY1, "single_commit")
    snap1 = sorted(map(tuple, t.read().collect()))
    _run_day(spark, t, 2, DAY1, "single_commit")  # same rows, later clock
    snap2 = sorted(map(tuple, t.read().collect()))
    assert snap1 == snap2
    shutil.rmtree(d, ignore_errors=True)


def test_time_travel_and_history(spark):
    """Versioned reads + commit metrics (reference history(1),
    scd_handler.py:54)."""
    d = tempfile.mkdtemp(prefix="scd_tt_")
    t = ManagedTable(spark, f"{d}/tbl")
    df1 = spark.createDataFrame(DAY1, SCHEMA)
    create_scd_target(t, df1, _cfg(1))
    _run_day(spark, t, 1, DAY1, "single_commit")
    v1 = t.latest_version()
    _run_day(spark, t, 2, DAY2, "single_commit")
    assert t.read(version=v1).count() == 3
    assert t.read().count() == 5
    h = t.history(1)
    assert len(h) == 1 and h[0]["operation"] == "SCD_APPLY"
    shutil.rmtree(d, ignore_errors=True)


def test_apply_rejects_type_drifted_batch(spark):
    """ADVICE r3: a batch whose column types drifted (e.g. units as
    double) must raise, not silently widen the table schema through
    the overwrite_schema escape hatch (Spark's join coercion would
    otherwise rewrite units as double for every downstream reader)."""
    d = tempfile.mkdtemp(prefix="scd_drift_")
    t = ManagedTable(spark, f"{d}/t")
    create_scd_target(t, spark.createDataFrame(DAY1, SCHEMA), _cfg(1))
    _run_day(spark, t, 1, DAY1, "single_commit")
    drifted = spark.createDataFrame(
        [(1, "Google", 100.5, "Kite", "2015-12-25 10:05:30",
          "2025-05-12 10:05:20")],
        "id long, stock_name string, units double, platform string, "
        "reg_ts string, last_modify_ts string",
    )
    with pytest.raises(ValueError, match="change column types"):
        apply_scd(drifted, t, _cfg(2), mode="single_commit")
    # Table untouched: schema and row count intact.
    assert dict(t.read().dtypes)["units"] == "bigint"
    shutil.rmtree(d, ignore_errors=True)


def test_reload_with_new_timestamps_is_a_noop(spark):
    """With ``select_cols`` unset every batch column is stored, but the
    load-timestamp columns must not feed ``upd_key``: a full reload
    whose only change is its timestamps makes no SCD1 update and an
    empty change feed."""
    cfg = ScdConfig(
        pk_cols=["id", "stock_name"],
        scd_cols=["units"],
        effective_from_col="last_modify_ts",
        initial_eff_date_col="reg_ts",
        clock=lambda: CLOCKS[1],
    )
    d = tempfile.mkdtemp(prefix="scd_reload_")
    try:
        t = ManagedTable(spark, f"{d}/tbl")
        df1 = spark.createDataFrame(DAY1, SCHEMA)
        create_scd_target(t, df1, cfg)
        apply_scd(df1, t, cfg)
        v1 = t.latest_version()
        snap1 = sorted(map(tuple, t.read().collect()))
        restamped = [
            (*r[:4], "2016-01-01 00:00:00", "2025-06-01 00:00:00") for r in DAY1
        ]
        cfg.clock = lambda: CLOCKS[2]
        apply_scd(spark.createDataFrame(restamped, SCHEMA), t, cfg)
        assert sorted(map(tuple, t.read().collect())) == snap1
        assert t.change_feed(v1, t.latest_version()).isEmpty()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_soft_closed_key_reapplied(spark):
    """A key soft-closed by ``scd_soft_close`` (status 'D') has no open
    version, so a later batch carrying it inserts a fresh active row at
    ``initial_effective_from`` and leaves its history rows untouched;
    both execution modes agree on that re-apply."""
    from delta_lake_platform_spark.scd.engine import scd_soft_close

    results = {}
    for mode in ("single_commit", "two_merge"):
        d = tempfile.mkdtemp(prefix=f"scd_reopen_{mode}_")
        try:
            t = ManagedTable(spark, f"{d}/tbl")
            create_scd_target(t, spark.createDataFrame(DAY1, SCHEMA), _cfg(1))
            _run_day(spark, t, 1, DAY1, "single_commit")
            keys = spark.createDataFrame([(1, "BTC")], "id long, stock_name string")
            scd_soft_close(keys, t, _cfg(1), now=datetime(2025, 5, 11, 18, 0, 0))
            closed = [tuple(r) for r in t.read().filter("stock_name = 'BTC'").collect()]
            assert [r[4] for r in closed] == ["D"]  # record_status
            _run_day(spark, t, 2, DAY2, mode)
            btc = t.read().filter("stock_name = 'BTC'").collect()
            fresh = [r for r in btc if r.record_status == "A"]
            assert len(btc) == 2 and len(fresh) == 1
            assert fresh[0].effective_to is None and fresh[0].units == 171
            assert str(fresh[0].effective_from) == "2016-12-25 11:05:30"
            assert fresh[0].dw_inserted_at == CLOCKS[2]
            assert [tuple(r) for r in btc if r.record_status != "A"] == closed
            results[mode] = sorted(map(tuple, t.read().collect()))
        finally:
            shutil.rmtree(d, ignore_errors=True)
    assert results["single_commit"] == results["two_merge"]
