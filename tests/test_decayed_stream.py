"""streaming/decayed.py — decayed-aggregate state maintained by a
foreachBatch stream, exactly-once via commit-metadata watermarks."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from delta_lake_platform_spark.operators.temporal import (
    decayed_agg_with_anchor,
)
from delta_lake_platform_spark.sources.managed_table import ManagedTable, _json_stat
from delta_lake_platform_spark.streaming.decayed import (
    _state_anchor_us,
    decayed_maintain_stream,
)

T0 = dt.datetime(2024, 1, 1)
DAY = dt.timedelta(days=1)
ROWS = [
    (1, T0, 10.0), (1, T0 + DAY, 4.0), (2, T0, 8.0),
    (1, T0 + 3 * DAY, 2.0), (3, T0 + 2 * DAY, 6.0),
    (2, T0 + 4 * DAY, 1.0),
]


def _setup(spark):
    d = tempfile.mkdtemp(prefix="dlp_decayed_stream_")
    src = os.path.join(d, "src")
    df = spark.createDataFrame(
        ROWS, "user_id long, ts timestamp, value double"
    )
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1
    df.repartition(3).write.parquet(src)
    return d, src, df


def _stream(spark, src):
    return (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def test_streamed_state_equals_full_recompute_and_replay_noop(spark):
    d, src, df = _setup(spark)
    state = ManagedTable(spark, os.path.join(d, "state"))
    n = decayed_maintain_stream(
        _stream(spark, src), state, os.path.join(d, "ckpt"),
        half_life_seconds=86400.0, stream_id="s1",
    )
    assert n >= 1
    full = {
        r.user_id: r
        for r in decayed_agg_with_anchor(
            df, half_life_seconds=86400.0
        ).collect()
    }
    got = {r.user_id: r for r in state.read().collect()}
    assert set(got) == set(full)
    for k in full:
        assert got[k].n_events == full[k].n_events, k
        assert got[k].decayed_sum == pytest.approx(
            full[k].decayed_sum, rel=1e-9
        ), k
        assert got[k].anchor_ts == full[k].anchor_ts, k
    v = state.latest_version()

    # fresh checkpoint => Spark REPLAYS every batch; the commit-
    # metadata watermark must make each one a no-op
    n2 = decayed_maintain_stream(
        _stream(spark, src), state, os.path.join(d, "ckpt2"),
        half_life_seconds=86400.0, stream_id="s1",
    )
    assert n2 == 0
    assert state.latest_version() == v
    got2 = {r.user_id: r.decayed_sum for r in state.read().collect()}
    assert got2 == {k: got[k].decayed_sum for k in got}


@pytest.mark.parametrize(
    "anchor",
    [
        dt.datetime(2024, 1, 1),  # isoformat drops an all-zero fraction
        dt.datetime(2024, 3, 5, 7, 8, 9, 1),
        dt.datetime(2024, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2024, 6, 1, 12, 0, 0, 123456, tzinfo=dt.timezone.utc),
        dt.datetime(
            2024, 6, 1, 17, 30, 0, 654321,
            tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=30)),
        ),
    ],
)
def test_anchor_stat_round_trips_to_the_microsecond(anchor):
    """The fold anchor is read back from the ISO string the footer-stats
    writer (``_json_stat``) records for ``anchor_ts``; the round trip
    must be exact to the microsecond, or folds decay from a skewed
    anchor."""

    class FooterStats:
        def column_max(self, col, version):
            assert col == "anchor_ts"
            return _json_stat(anchor)

        def read(self, version):
            raise AssertionError("anchor fell back to a data scan")

    utc = anchor.astimezone(dt.timezone.utc).replace(tzinfo=None) if anchor.tzinfo else anchor
    want = (utc - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    assert _state_anchor_us(FooterStats(), 0) == want
