"""DisStreamReader over a pattern Subscription (r8 verdict #2):
per-trigger regex re-match, earliest-start admission of new streams,
composite-key rate split, and the post-restart floor guard — the planner
logic under the dis_pattern_add_streamed e2e gate, driven directly
without an engine.
"""
from __future__ import annotations

import pandas as pd
import pytest

from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
    DisStreamReader, Subscription,
)
from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

from .read_plan import planned_ranges


def _mk_log(root, stream, n_parts, rows_per_part):
    log = DisLog(str(root), stream).create(n_parts)
    batch = []
    for p in range(n_parts):
        for i in range(rows_per_part):
            batch.append((p, f"k{i}", f"v{i}",
                          1_700_000_000_000_000 + i))
    log.append(pd.DataFrame({
        "partition": [r[0] for r in batch],
        "key": [r[1] for r in batch],
        "value": [r[2] for r in batch],
        "timestamp": pd.to_datetime([r[3] for r in batch], unit="us"),
    }))
    return log


def test_new_matching_stream_admitted_at_earliest(tmp_path):
    _mk_log(tmp_path, "logs_a", 2, 5)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="logs_.*"), {})
    first = r.initialOffset()
    assert first == {"logs_a/0": 0, "logs_a/1": 0}
    ends = r.latestOffset()
    assert ends == {"logs_a/0": 5, "logs_a/1": 5}
    # a stream created mid-job is admitted at its EARLIEST offset
    _mk_log(tmp_path, "logs_b", 1, 3)
    ends2 = r.latestOffset()
    assert ends2 == {"logs_a/0": 5, "logs_a/1": 5, "logs_b/0": 3}
    # a non-matching stream is never admitted
    _mk_log(tmp_path, "other", 1, 2)
    assert "other/0" not in r.latestOffset()


def test_rate_budget_splits_across_streams_by_lag(tmp_path):
    _mk_log(tmp_path, "s_one", 1, 30)
    _mk_log(tmp_path, "s_two", 1, 10)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="s_.*"),
                        {"maxoffsetspertrigger": "8"})
    r.initialOffset()
    ends = r.latestOffset()
    # lag-proportional: 30:10 lag -> 6:2 of the 8-record budget
    assert ends == {"s_one/0": 6, "s_two/0": 2}
    ends2 = r.latestOffset()
    assert ends2["s_one/0"] > 6 and ends2["s_two/0"] > 2


def test_partitions_respect_floor_after_restart(tmp_path):
    _mk_log(tmp_path, "p_x", 1, 10)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="p_.*"), {})
    r.initialOffset()
    # engine committed through 7 in a previous incarnation
    r.commit({"p_x/0": 7})
    # a stale plan claiming start 3 is clamped up to the floor
    parts = planned_ranges(r.partitions({"p_x/0": 3}, {"p_x/0": 10}))
    assert len(parts) == 1
    assert parts[0].from_offset == 7 and parts[0].until_offset == 10
    # fully-stale plan (until < floor) becomes the empty placeholder
    parts2 = planned_ranges(r.partitions({"p_x/0": 3}, {"p_x/0": 5}))
    assert parts2[0].from_offset == parts2[0].until_offset


def test_zero_width_resync_not_taken_as_floor(tmp_path):
    """The restart resync call partitions(x, x) must NOT raise the
    floor (same advance-evidence rule as the single-stream reader):
    the genuine replay of [5, 10) that follows must not be clamped."""
    _mk_log(tmp_path, "q_x", 1, 10)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="q_.*"), {})
    r.initialOffset()
    r.partitions({"q_x/0": 10}, {"q_x/0": 10})   # zero-width resync
    parts = planned_ranges(r.partitions({"q_x/0": 5}, {"q_x/0": 10}))
    assert parts[0].from_offset == 5 and parts[0].until_offset == 10


def test_new_stream_with_trimmed_log_admitted_at_earliest(tmp_path):
    """r9 ADVICE #1: a stream created mid-job whose log is RETENTION-
    TRIMMED (earliest offset > 0) must be read from its admission point.
    latestOffset() records the admission offset as the key's floor, so
    partitions() — whose start dict (the previous batch's end) lacks the
    new key — clamps frm up to earliest instead of falling back to 0,
    which would raise a spurious failOnDataLoss error."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        expire_before,
    )

    _mk_log(tmp_path, "t_base", 1, 5)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="t_.*"), {})
    r.initialOffset()
    ends1 = r.latestOffset()
    assert ends1 == {"t_base/0": 5}
    r.commit(ends1)

    # stream created mid-job: two segments, first one expired -> earliest 5
    log = _mk_log(tmp_path, "t_new", 1, 5)
    log.append(pd.DataFrame({
        "partition": [0] * 5,
        "key": [f"k{i}" for i in range(5, 10)],
        "value": [f"v{i}" for i in range(5, 10)],
        "timestamp": pd.to_datetime(
            [1_700_000_000_000_000 + i for i in range(5, 10)], unit="us"),
    }))
    expire_before(log, {0: 5})
    assert log.earliest_offsets() == {0: 5}

    ends2 = r.latestOffset()
    assert ends2["t_new/0"] == 10
    # Spark hands partitions() the PREVIOUS end as start — no t_new key.
    parts = planned_ranges(r.partitions(dict(ends1), ends2))
    by_stream = {(p.stream, p.partition): p for p in parts}
    newp = by_stream[("t_new", 0)]
    assert newp.from_offset == 5 and newp.until_offset == 10


def test_revoked_stream_dropped_from_plan(tmp_path):
    """r9 verdict #4 (planner leg): a matched stream DELETED mid-job —
    the streaming twin of the reference's re-subscription drop path
    (DirectDISInputDStream.scala:185-220 revokes assignments that stop
    matching) — must disappear from the next latestOffset() frontier,
    and partitions() handed a START that still carries the revoked key
    must neither fail nor plan ghost partitions for it, while the
    surviving stream keeps advancing."""
    import shutil

    _mk_log(tmp_path, "r_keep", 1, 10)
    _mk_log(tmp_path, "r_gone", 1, 4)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="r_.*"), {})
    r.initialOffset()
    ends1 = r.latestOffset()
    assert ends1 == {"r_keep/0": 10, "r_gone/0": 4}
    parts1 = planned_ranges(
        r.partitions({"r_keep/0": 0, "r_gone/0": 0}, ends1))
    assert {(p.stream, p.from_offset, p.until_offset) for p in parts1} == \
        {("r_keep", 0, 10), ("r_gone", 0, 4)}
    r.commit(ends1)

    # retire the fully-consumed stream, then keep feeding the survivor
    shutil.rmtree(tmp_path / "r_gone")
    log = DisLog(str(tmp_path), "r_keep")
    log.append(pd.DataFrame({
        "partition": [0] * 3,
        "key": ["a", "b", "c"],
        "value": ["x", "y", "z"],
        "timestamp": pd.to_datetime(
            [1_700_000_000_000_000 + i for i in range(3)], unit="us"),
    }))
    ends2 = r.latestOffset()
    assert ends2 == {"r_keep/0": 13}          # revoked key gone
    parts2 = planned_ranges(
        r.partitions(dict(ends1), ends2))  # start still has r_gone
    planned = {(p.stream, p.from_offset, p.until_offset) for p in parts2}
    assert planned == {("r_keep", 10, 13)}    # no ghost partitions


def test_max_rate_per_partition_caps_each_stream_partition(tmp_path):
    """maxRatePerPartition caps every ``<stream>/<partition>`` key of a
    pattern subscription, exactly as it caps a named stream's
    partitions."""
    _mk_log(tmp_path, "m_one", 2, 30)
    _mk_log(tmp_path, "m_two", 1, 10)
    r = DisStreamReader(Subscription(str(tmp_path), pattern="m_.*"),
                        {"maxrateperpartition": "4", "batchseconds": "1"})
    r.initialOffset()
    assert r.latestOffset() == {"m_one/0": 4, "m_one/1": 4, "m_two/0": 4}
    assert r.latestOffset() == {"m_one/0": 8, "m_one/1": 8, "m_two/0": 8}
