"""Count-polling drain protocol (r10 verdict #4): drain_available with
expected_rows must refuse to stop on an idle tail until the query has
consumed that many input rows — the exact failure mode of the r10
transient (a data batch stuck in planning under load looks identical to
a drained backlog) — and must still require the idle tail afterwards so
timer/watermark flush batches are never cut off. The idle tail itself is
TIME-based (r11): with dense 250 ms no-data progress events, two idle
EVENTS alone are ~0.5 s of silence, so the drain requires idle_seconds
of quiet after the last data event.

Pure-Python tests against a scripted fake StreamingQuery; the live legs
are every converted *_streamed row in the oracle sweep."""
from __future__ import annotations

import pytest

from spark_streaming_dis_plugin_spark.streaming.drain import drain_available


def _iso(sec: float) -> str:
    from datetime import datetime, timedelta, timezone

    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    return (base + timedelta(seconds=sec)).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _p(batch_id: int, rows: int, at_sec: float) -> dict:
    return {"batchId": batch_id, "numInputRows": rows,
            "timestamp": _iso(at_sec)}


class _FakeQuery:
    """recentProgress is replayed one step per poll; stop() is recorded."""

    def __init__(self, steps):
        self._steps = list(steps)   # each: list of progress dicts
        self._i = 0
        self.stopped = False
        self.lastProgress = None

    def exception(self):
        return None

    def stop(self):
        self.stopped = True

    @property
    def recentProgress(self):
        step = self._steps[min(self._i, len(self._steps) - 1)]
        self._i += 1
        return step


def test_idle_tail_with_time_window_stops_without_target():
    # data at t=0, idle events at t=1 and t=5: >= idle_seconds of quiet
    steps = [[_p(0, 40, 0.0), _p(1, 0, 1.0), _p(2, 0, 5.0)]]
    q = _FakeQuery(steps)
    assert drain_available(q, poll_seconds=0.0, timeout_seconds=2) == 1
    assert q.stopped


def test_short_idle_window_does_not_stop():
    # two idle EVENTS only 0.5 s after the data batch: the time window
    # must hold the drain open (this is the dense-events early-stop
    # hazard the window exists for)
    steps = [[_p(0, 40, 0.0), _p(1, 0, 0.25), _p(2, 0, 0.5)]]
    q = _FakeQuery(steps)
    with pytest.raises(TimeoutError):
        drain_available(q, poll_seconds=0.05, timeout_seconds=0.5)


def test_expected_rows_blocks_early_idle_tail():
    # a long-quiet idle tail after a partial drain, but the stuck batch
    # lands later; with the count target the drain must wait for all
    # 100 rows (plus a fresh quiet tail) no matter how idle it looks
    steps = [
        [_p(0, 40, 0.0), _p(1, 0, 1.0), _p(2, 0, 9.0)],
        [_p(0, 40, 0.0), _p(1, 0, 1.0), _p(2, 0, 9.0)],
        [_p(1, 0, 1.0), _p(2, 0, 9.0), _p(3, 60, 10.0),
         _p(4, 0, 11.0), _p(5, 0, 14.0)],
    ]
    q = _FakeQuery(steps)
    got = drain_available(q, poll_seconds=0.0, timeout_seconds=2,
                          expected_rows=100)
    assert got == 2  # batches 0 and 3 carried data


def test_expected_rows_counts_cumulatively_across_buffer_eviction():
    # batch 0 ages out of recentProgress before the final poll; the
    # per-batchId dict must remember it
    steps = [
        [_p(0, 70, 0.0)],
        [_p(1, 0, 1.0), _p(2, 30, 2.0), _p(3, 0, 3.0), _p(4, 0, 6.0)],
    ]
    q = _FakeQuery(steps)
    got = drain_available(q, poll_seconds=0.0, timeout_seconds=2,
                          expected_rows=100)
    assert got == 2


def test_no_data_ever_uses_idle_span():
    # a drain that legitimately sees no data (nothing to consume): the
    # window is measured across the trailing idle events themselves
    steps = [[_p(0, 0, 0.0), _p(1, 0, 4.0)]]
    q = _FakeQuery(steps)
    assert drain_available(q, poll_seconds=0.0, timeout_seconds=2) == 0


def test_stop_at_count_skips_idle_tail():
    # the count target is reached on the very poll that reports the last
    # data batch: a stop_at_count drain must return right there, with no
    # trailing idle events required at all
    steps = [
        [_p(0, 40, 0.0)],
        [_p(0, 40, 0.0), _p(1, 60, 1.0)],
    ]
    q = _FakeQuery(steps)
    got = drain_available(q, poll_seconds=0.0, timeout_seconds=2,
                          expected_rows=100, stop_at_count=True)
    assert got == 2
    assert q.stopped


def test_stop_at_count_still_waits_for_the_count():
    # short of the target, stop_at_count must keep polling (and time out
    # here) — the fast path can never stop an underfilled drain early
    steps = [[_p(0, 40, 0.0), _p(1, 0, 1.0), _p(2, 0, 5.0)]]
    q = _FakeQuery(steps)
    with pytest.raises(TimeoutError):
        drain_available(q, poll_seconds=0.0, timeout_seconds=0.2,
                        expected_rows=100, stop_at_count=True)


def test_stop_at_count_without_target_keeps_idle_tail():
    # without expected_rows the flag is ignored: the only drained-ness
    # signal is the timed idle tail, which this trace does not yet have
    steps = [[_p(0, 40, 0.0), _p(1, 0, 0.25), _p(2, 0, 0.5)]]
    q = _FakeQuery(steps)
    with pytest.raises(TimeoutError):
        drain_available(q, poll_seconds=0.05, timeout_seconds=0.5,
                        stop_at_count=True)


def test_timeout_reports_consumed_vs_expected():
    q = _FakeQuery([[_p(0, 10, 0.0), _p(1, 0, 1.0), _p(2, 0, 5.0)]])
    with pytest.raises(TimeoutError, match=r"10 rows of 99 expected"):
        drain_available(q, poll_seconds=0.0, timeout_seconds=0.2,
                        expected_rows=99)


# ---------------------------------------------------------------- WAL floor

def test_checkpoint_committed_rows_parses_real_wal(tmp_path):
    """The restart gates' count floor (r11 verdict #5) reads the
    checkpoint's offset WAL: end offsets of the newest COMMITTED batch.
    Pin the parse against a hand-built WAL in Spark's on-disk format —
    v1 line, metadata JSON line, then one offset line per source."""
    import json
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import (
        checkpoint_committed_rows,
    )

    ckpt = str(tmp_path)
    os.makedirs(f"{ckpt}/offsets")
    os.makedirs(f"{ckpt}/commits")
    meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 1})
    # batch 0 committed, batch 1 planned-but-uncommitted
    with open(f"{ckpt}/offsets/0", "w") as f:
        f.write("v1\n" + meta + "\n" + json.dumps({"0": 120, "1": 80}))
    with open(f"{ckpt}/offsets/1", "w") as f:
        f.write("v1\n" + meta + "\n" + json.dumps({"0": 300, "1": 300}))
    with open(f"{ckpt}/commits/0", "w") as f:
        f.write("v1\n{}")
    # the floor uses the COMMITTED batch (0), never the planned one (1)
    assert checkpoint_committed_rows(ckpt) == 200


def test_checkpoint_committed_rows_two_sources_and_edge_cases(tmp_path):
    import json
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import (
        checkpoint_committed_rows,
    )

    # no checkpoint at all / empty commits -> 0 (floor degrades loose)
    assert checkpoint_committed_rows(str(tmp_path / "nope")) == 0
    ckpt = str(tmp_path)
    os.makedirs(f"{ckpt}/offsets")
    os.makedirs(f"{ckpt}/commits")
    assert checkpoint_committed_rows(ckpt) == 0
    # self-join: two source lines, both summed (numInputRows counts both)
    meta = json.dumps({"batchWatermarkMs": 0})
    with open(f"{ckpt}/offsets/3", "w") as f:
        f.write("v1\n" + meta + "\n"
                + json.dumps({"0": 50}) + "\n"
                + json.dumps({"0": 50}))
    with open(f"{ckpt}/commits/3", "w") as f:
        f.write("v1\n{}")
    assert checkpoint_committed_rows(ckpt) == 100


def test_checkpoint_committed_rows_live_roundtrip(spark, sf_dir, tmp_path):
    """End-to-end: after a full drain, the WAL floor equals the log
    total — so a restart gate's resume floor is exactly zero."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisDataSource,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        create_log_from_events,
    )
    from spark_streaming_dis_plugin_spark.streaming.drain import (
        checkpoint_committed_rows, drain_available,
    )

    spark.dataSource.register(DisDataSource)
    log = create_log_from_events(
        spark, f"{sf_dir}/events.parquet", str(tmp_path / "log"),
        segment_rows=500)
    total = sum(log.latest_offsets().values())
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    q = (spark.readStream.format("dis")
         .option("path", log.root).option("stream", log.stream)
         .option("maxOffsetsPerTrigger", str(max(total // 3, 1)))
         .load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="0 seconds").start())
    drain_available(q, timeout_seconds=120, expected_rows=total)
    assert checkpoint_committed_rows(ckpt) == total


def test_checkpoint_committed_rows_unknown_is_none_not_zero(tmp_path):
    """r12 advice #1: a COMMITTED batch whose WAL entry cannot be parsed
    must read as 'unknown' (None), never 0 — a 0 would inflate the
    resume floor to the full log, rows the engine will never replay, so
    every restart gate would time out. 0 is reserved for the genuine
    no-commits case."""
    import json
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import (
        checkpoint_committed_rows, resume_floor,
    )

    ckpt = str(tmp_path)
    os.makedirs(f"{ckpt}/offsets")
    os.makedirs(f"{ckpt}/commits")
    with open(f"{ckpt}/commits/0", "w") as f:
        f.write("v1\n{}")
    # committed batch 0 but its offsets entry is garbage
    with open(f"{ckpt}/offsets/0", "w") as f:
        f.write("v1\n" + json.dumps({"batchWatermarkMs": 0})
                + "\nnot json at all")
    assert checkpoint_committed_rows(ckpt) is None
    # ...and the floor degrades to 'no floor', not 'whole log again'
    assert resume_floor(ckpt, 1000) is None

    # missing offsets file for the committed batch -> same unknown
    os.remove(f"{ckpt}/offsets/0")
    assert checkpoint_committed_rows(ckpt) is None


def test_checkpoint_committed_rows_ignores_non_batch_names(tmp_path):
    """r12 advice #3: names like '--1' or Spark's '.<id>.<uuid>.tmp'
    staging files in commits/ must be skipped, not crash int()."""
    import json
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import (
        checkpoint_committed_rows,
    )

    ckpt = str(tmp_path)
    os.makedirs(f"{ckpt}/offsets")
    os.makedirs(f"{ckpt}/commits")
    for junk in ("--1", "-3", ".2.abc123.tmp", "_spark_metadata"):
        with open(f"{ckpt}/commits/{junk}", "w") as f:
            f.write("x")
    assert checkpoint_committed_rows(ckpt) == 0   # no REAL commit yet
    meta = json.dumps({"batchWatermarkMs": 0})
    with open(f"{ckpt}/offsets/7", "w") as f:
        f.write("v1\n" + meta + "\n" + json.dumps({"0": 42}))
    with open(f"{ckpt}/commits/7", "w") as f:
        f.write("v1\n{}")
    assert checkpoint_committed_rows(ckpt) == 42


def test_resume_floor_known_cases(tmp_path):
    import json
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import resume_floor

    # no checkpoint -> everything must be consumed
    assert resume_floor(str(tmp_path / "nope"), 500) == 500
    ckpt = str(tmp_path)
    os.makedirs(f"{ckpt}/offsets")
    os.makedirs(f"{ckpt}/commits")
    meta = json.dumps({"batchWatermarkMs": 0})
    with open(f"{ckpt}/offsets/0", "w") as f:
        f.write("v1\n" + meta + "\n" + json.dumps({"0": 300}))
    with open(f"{ckpt}/commits/0", "w") as f:
        f.write("v1\n{}")
    assert resume_floor(ckpt, 500) == 200
    # committed can exceed the caller's total (restart after growth): clamp
    assert resume_floor(ckpt, 100) == 0


# ------------------------------------------------- kill/resume protocol

class _FakeRun(_FakeQuery):
    """A started query as kill_resume drives it: ``terminates`` says
    whether awaitTermination sees it end by itself (the availableNow
    run), ``error`` is what exception() reports."""

    def __init__(self, steps, terminates: bool = False, error=None):
        super().__init__(steps)
        self._terminates = terminates
        self._error = error

    @property
    def isActive(self):
        return not (self.stopped or self._terminates)

    def awaitTermination(self, timeout=None):
        return not self.isActive

    def exception(self):
        return self._error


def _starter(*runs):
    """A ``start(trigger, rate_limited)`` closure handing out ``runs`` in
    order; ``calls`` records its arguments."""
    calls = []

    def start(trigger, rate_limited):
        calls.append((trigger, rate_limited))
        return runs[len(calls) - 1]

    return start, calls


def _ckpt_with_wal(tmp_path, committed: int) -> str:
    """A checkpoint whose newest committed batch ends at ``committed``."""
    import json
    import os

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(f"{ckpt}/offsets")
    os.makedirs(f"{ckpt}/commits")
    with open(f"{ckpt}/offsets/0", "w") as f:
        f.write("v1\n" + json.dumps({"batchWatermarkMs": 0}) + "\n"
                + json.dumps({"0": committed}))
    with open(f"{ckpt}/commits/0", "w") as f:
        f.write("v1\n{}")
    return ckpt


def test_kill_resume_kills_phase_two_on_first_data_batch(tmp_path):
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import kill_resume

    ckpt = _ckpt_with_wal(tmp_path, 0)
    phase2 = _FakeRun([[], [_p(0, 0, 0.0)],
                       [_p(0, 0, 0.0), _p(1, 40, 0.5)],
                       [_p(0, 0, 0.0), _p(1, 40, 0.5), _p(2, 40, 1.0)]])
    start, calls = _starter(
        _FakeRun([[]], terminates=True), phase2,
        _FakeRun([[_p(0, 100, 0.0), _p(1, 0, 1.0), _p(2, 0, 5.0)]]))
    kill_resume(start, ckpt, 100, "gate")
    # stopped on the poll that first showed input rows, not later
    assert phase2.stopped and phase2._i == 3
    assert calls == [({"availableNow": True}, True),
                     ({"processingTime": "0 seconds"}, True),
                     ({"processingTime": "0 seconds"}, False)]
    assert not os.path.exists(ckpt)


@pytest.mark.parametrize("phase", [1, 2, 3])
def test_kill_resume_failure_stops_query_and_removes_checkpoint(
        tmp_path, monkeypatch, phase):
    """Whichever phase raises, no started query is left running and the
    checkpoint is gone — the cleanup every restart gate relies on."""
    import os

    from spark_streaming_dis_plugin_spark.streaming import drain

    ckpt = _ckpt_with_wal(tmp_path, 0)
    runs = [_FakeRun([[]], terminates=phase != 1),
            _FakeRun([[_p(0, 40, 0.0)]],
                     error=RuntimeError("boom") if phase == 2 else None),
            _FakeRun([[]])]

    def failing_drain(query, **kw):    # raises without stopping query
        raise RuntimeError("boom")

    monkeypatch.setattr(drain, "drain_available", failing_drain)
    start, calls = _starter(*runs)
    with pytest.raises(TimeoutError if phase == 1 else RuntimeError):
        drain.kill_resume(start, ckpt, 100, "gate")
    assert len(calls) == phase
    assert not any(r.isActive for r in runs[:phase])
    assert not os.path.exists(ckpt)


def test_kill_resume_phase_three_drains_to_the_wal_floor(tmp_path,
                                                          monkeypatch):
    from spark_streaming_dis_plugin_spark.streaming import drain

    ckpt = _ckpt_with_wal(tmp_path, 300)
    expected = drain.resume_floor(ckpt, 500)
    seen = {}

    def recording_drain(query, **kw):
        seen.update(kw)
        query.stop()
        return 1

    monkeypatch.setattr(drain, "drain_available", recording_drain)
    start, _ = _starter(_FakeRun([[]], terminates=True),
                        _FakeRun([[_p(0, 40, 0.0)]]), _FakeRun([[]]))
    drain.kill_resume(start, ckpt, 500, "gate")
    assert expected == 200
    assert seen == {"timeout_seconds": 180, "expected_rows": expected}


def test_await_progress_reraises_query_exception():
    from spark_streaming_dis_plugin_spark.streaming.drain import (
        await_progress,
    )

    err = RuntimeError("query died")
    with pytest.raises(RuntimeError) as info:
        await_progress(_FakeRun([[_p(0, 40, 0.0)]], error=err), "gate")
    assert info.value is err


def test_await_progress_timeout_names_the_gate():
    from spark_streaming_dis_plugin_spark.streaming.drain import (
        await_progress,
    )

    idle = [[_p(0, 0, 0.0)]]
    with pytest.raises(TimeoutError, match=r"tail gate: no data batch"):
        await_progress(_FakeRun(idle), "tail gate", timeout_seconds=0.1)
    # any progress event is enough when no data batch is asked for
    await_progress(_FakeRun(idle), "tail gate", timeout_seconds=0.1,
                   data=False)
    with pytest.raises(TimeoutError, match=r"tail gate: no progress"):
        await_progress(_FakeRun([[]]), "tail gate", timeout_seconds=0.1,
                       data=False)


# ------------------------------------------------- stream owner

class _FakeWriter:
    """A DataStreamWriter whose start() returns ``query``; the query
    name, options and trigger it was given are kept in ``calls``."""

    def __init__(self, query):
        self.query = query
        self.calls = {}

    def queryName(self, name):
        self.calls["name"] = name
        return self

    def option(self, key, value):
        self.calls[key] = value
        return self

    def trigger(self, **kw):
        self.calls["trigger"] = kw
        return self

    def start(self):
        return self.query


def _failing_drain(query, **kw):    # raises without stopping query
    raise RuntimeError("boom")


def test_owner_raise_during_drain_stops_query_and_removes_checkpoint(
        monkeypatch):
    import os

    from spark_streaming_dis_plugin_spark.streaming import drain

    monkeypatch.setattr(drain, "drain_available", _failing_drain)
    q = _FakeRun([[]])
    w = _FakeWriter(q)
    with pytest.raises(RuntimeError, match="boom"):
        drain.run(w, "gate", expected_rows=100)
    assert q.stopped
    assert not os.path.exists(w.calls["checkpointLocation"])
    assert w.calls["trigger"] == {"processingTime": "0 seconds"}
    assert w.calls["name"].startswith("gate_")


def test_owner_stops_every_query_before_removing_any_checkpoint(
        monkeypatch):
    import os

    from spark_streaming_dis_plugin_spark.streaming import drain

    events = []

    class _Logged(_FakeRun):
        def stop(self):
            super().stop()
            events.append("stop")

    real_rmtree = drain.shutil.rmtree

    def rmtree(path, **kw):
        events.append("rmtree")
        real_rmtree(path, **kw)

    monkeypatch.setattr(drain.shutil, "rmtree", rmtree)
    monkeypatch.setattr(drain, "drain_available", _failing_drain)
    writers = [_FakeWriter(_Logged([[]])), _FakeWriter(_Logged([[]]))]
    with pytest.raises(RuntimeError, match="boom"):
        with drain.streams("gate") as owner:
            started = [owner.start(w) for w in writers]
            owner.drain(started[0])
    assert all(w.query.stopped for w in writers)
    assert events == ["stop", "stop", "rmtree", "rmtree"]
    assert not any(os.path.exists(w.calls["checkpointLocation"])
                   for w in writers)
    assert writers[0].calls["name"] != writers[1].calls["name"]


def test_owner_min_batches_error_names_the_gate():
    import os

    from spark_streaming_dis_plugin_spark.streaming import drain

    q = _FakeRun([[_p(0, 40, 0.0), _p(1, 0, 1.0), _p(2, 0, 5.0)]])
    w = _FakeWriter(q)
    with pytest.raises(AssertionError,
                       match=r"ann_ingest: backlog drained in 1 data "
                             r"batches; the multi-batch gate requires >= 3"):
        drain.run(w, "ann_ingest", min_batches=3)
    assert q.stopped
    assert not os.path.exists(w.calls["checkpointLocation"])


def test_owner_available_now_that_does_not_terminate_times_out():
    import os

    from spark_streaming_dis_plugin_spark.streaming import drain

    q = _FakeRun([[]])
    w = _FakeWriter(q)
    with pytest.raises(TimeoutError, match=r"gate: availableNow run"):
        drain.run(w, "gate", available_now=True)
    assert q.stopped
    assert w.calls["trigger"] == {"availableNow": True}
    assert not os.path.exists(w.calls["checkpointLocation"])


def test_owner_restart_on_a_checkpoint_keeps_its_query_name():
    from spark_streaming_dis_plugin_spark.streaming import drain

    first = _FakeRun([[_p(0, 40, 0.0)]], terminates=True)
    writers = [_FakeWriter(first), _FakeWriter(_FakeRun([[]]))]
    with drain.streams("gate") as owner:
        ckpt = owner.checkpoint()
        q = owner.start(writers[0], available_now=True, ckpt=ckpt)
        assert owner.drain(q) == 1
        owner.start(writers[1], ckpt=ckpt)
    assert writers[0].calls["name"] == writers[1].calls["name"]
    assert writers[1].calls["checkpointLocation"] == ckpt
    assert writers[1].query.stopped
