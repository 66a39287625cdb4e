"""Cross-process atomicity of the stream metadata file.

The streaming source's planner re-reads metadata.json from a SEPARATE
Python worker process on every latestOffset() trigger (dis_log.py
num_partitions), while add_partitions() rewrites it from the test/driver
process. Before the tmp+os.replace fix, the truncating in-place write
gave the reader a window where the file was empty and json.load raised —
observed in the wild as a transient PYTHON_STREAMING_DATA_SOURCE_RUNTIME_ERROR
in latestOffset on the dynamic-add gate. These tests hammer that exact
interleaving from a real second process and assert zero torn reads.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog


def _reader_proc(meta_path: str, stop_path: str, out_q) -> None:
    """Tight cross-process json.load loop — the planner's read, stripped
    of Spark. Counts successful reads and decode errors until stopped."""
    ok = 0
    torn = 0
    while not os.path.exists(stop_path):
        try:
            with open(meta_path) as f:
                n = int(json.load(f)["num_partitions"])
            assert n >= 1
            ok += 1
        except FileNotFoundError:
            pass
        except (json.JSONDecodeError, KeyError, ValueError):
            torn += 1
    out_q.put((ok, torn))


def test_concurrent_add_and_read_no_torn_meta(tmp_path):
    root = str(tmp_path)
    log = DisLog(root, "stress").create(1)
    stop_path = os.path.join(root, "STOP")

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    reader = ctx.Process(
        target=_reader_proc, args=(log._meta_path, stop_path, q))
    reader.start()
    try:
        # Hammer the writer: thousands of full meta rewrites while the
        # other process reads as fast as it can. With the old truncating
        # write this produced tens of thousands of JSONDecodeErrors in
        # seconds; with tmp+os.replace the reader must never see a torn
        # file.
        deadline = time.monotonic() + 3.0
        while time.monotonic() < deadline:
            for _ in range(50):
                log.add_partitions(1)
    finally:
        with open(stop_path, "w") as f:
            f.write("stop")
        reader.join(timeout=30)

    ok, torn = q.get(timeout=10)
    assert reader.exitcode == 0
    assert torn == 0, f"reader observed {torn} torn meta reads ({ok} ok)"
    assert ok > 0, "reader never completed a read — test harness broken"
    # and the final state is consistent
    assert log.num_partitions() >= 51


def test_create_is_atomic_under_reader(tmp_path):
    """create() also rewrites metadata.json (e.g. a stream re-created in
    place while a stale reader still polls). Same contract: no torn reads."""
    root = str(tmp_path)
    log = DisLog(root, "recreate").create(2)
    stop_path = os.path.join(root, "STOP")

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    reader = ctx.Process(
        target=_reader_proc, args=(log._meta_path, stop_path, q))
    reader.start()
    try:
        deadline = time.monotonic() + 1.5
        while time.monotonic() < deadline:
            for _ in range(50):
                log.create(2)
    finally:
        with open(stop_path, "w") as f:
            f.write("stop")
        reader.join(timeout=30)

    ok, torn = q.get(timeout=10)
    assert reader.exitcode == 0
    assert torn == 0, f"reader observed {torn} torn meta reads ({ok} ok)"
    assert ok > 0


def _segment_reader_proc(part_dir: str, stop_path: str, out_q) -> None:
    """Cross-process segment consumer: list the partition dir (what the
    planner's segment_infos/latest_offsets do) and fully read every
    visible parquet file (what an executor does for planned offsets).
    The atomicity contract: a name that matches the segment regex is
    only visible once its bytes are complete — so every listed segment
    must parse, and its row count must match the -n<count> in its name."""
    import re

    import pyarrow.parquet as pq

    seg_re = re.compile(
        r"^seg-(\d+)-(\d+)(?:-n(\d+))?(?:-txn_([A-Za-z0-9_]+))?"
        r"-[0-9a-f]+\.parquet$")
    ok = 0
    torn = 0
    while not os.path.exists(stop_path):
        try:
            names = os.listdir(part_dir)
        except FileNotFoundError:
            continue
        for name in names:
            m = seg_re.match(name)
            if not m:
                continue
            try:
                t = pq.read_table(os.path.join(part_dir, name))
                expected = int(m.group(3)) if m.group(3) else None
                if expected is not None and t.num_rows != expected:
                    torn += 1
                else:
                    ok += 1
            except FileNotFoundError:
                pass  # retention/merge may legally remove a listed file
            except Exception:
                torn += 1
    out_q.put((ok, torn))


def test_concurrent_append_and_segment_read_no_torn_parquet(tmp_path):
    import pandas as pd

    root = str(tmp_path)
    log = DisLog(root, "appends").create(1)
    stop_path = os.path.join(root, "STOP")

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    reader = ctx.Process(
        target=_segment_reader_proc,
        args=(log._part_dir(0), stop_path, q))
    reader.start()
    try:
        deadline = time.monotonic() + 4.0
        i = 0
        while time.monotonic() < deadline:
            batch = pd.DataFrame({
                "partition": [0] * 20,
                "key": [f"k{i}-{j}" for j in range(20)],
                "value": [b"v" * 64] * 20,
                "timestamp": pd.to_datetime(["2024-01-01"] * 20),
            })
            log.append(batch)
            i += 1
    finally:
        with open(stop_path, "w") as f:
            f.write("stop")
        reader.join(timeout=60)

    ok, torn = q.get(timeout=10)
    assert reader.exitcode == 0
    assert torn == 0, f"reader observed {torn} torn/short segments ({ok} ok)"
    assert ok > 0
    # every append is still intact
    assert log.latest_offsets() == {0: i * 20}


def test_no_leftover_tmp_files(tmp_path):
    log = DisLog(str(tmp_path), "tidy").create(3)
    for _ in range(10):
        log.add_partitions(1)
    leftovers = [n for n in os.listdir(log.stream_dir) if ".tmp-" in n]
    assert leftovers == []
    assert log.num_partitions() == 13


def test_sweep_stale_tmps_removes_only_old_orphans(tmp_path):
    """r12 advice #2: uuid-suffixed tmp files orphaned by a crash between
    write and os.replace are swept by writer-side entry points — but only
    when older than the age gate, so a LIVE concurrent writer's tmp (ms
    of life) is never yanked out from under its os.replace."""
    log = DisLog(str(tmp_path), "sweepy").create(2)
    part_dir = log._part_dir(0)
    old_orphan = os.path.join(part_dir, "seg.parquet.tmp-deadbeef")
    fresh = os.path.join(part_dir, "seg.parquet.tmp-cafebabe")
    for p in (old_orphan, fresh):
        with open(p, "w") as f:
            f.write("partial bytes")
    past = time.time() - 3600
    os.utime(old_orphan, (past, past))

    removed = log.sweep_stale_tmps(min_age_seconds=60)
    assert removed == 1
    assert not os.path.exists(old_orphan)
    assert os.path.exists(fresh)          # age-gated: live writer safe

    # create() on an existing stream dir sweeps too (crash-restart path)
    os.utime(fresh, (past, past))
    DisLog(str(tmp_path), "sweepy").create(2)
    assert not os.path.exists(fresh)


def test_sweep_reclaims_stale_staging_entries(tmp_path):
    """Staged data orphaned by a crashed writer — a ``format("dis")``
    task's ``stage-*.parquet`` file or a foreachBatch sink's per-txn
    staging directory — is reclaimed by create() once older than the
    age gate; a fresh entry (a writer still staging) is kept."""
    log = DisLog(str(tmp_path), "staged").create(2)
    stage = os.path.join(log.stream_dir, "_staging")
    os.makedirs(os.path.join(stage, "q_b3-deadbeef", "_temporary"))
    os.makedirs(os.path.join(stage, "q_b4-cafebabe"))
    old_file = os.path.join(stage, "stage-0-deadbeef.parquet")
    old_dir_file = os.path.join(stage, "q_b3-deadbeef", "part-00000.parquet")
    fresh_file = os.path.join(stage, "stage-1-cafebabe.parquet")
    fresh_dir_file = os.path.join(stage, "q_b4-cafebabe", "part-00000.parquet")
    for p in (old_file, old_dir_file, fresh_file, fresh_dir_file):
        with open(p, "w") as f:
            f.write("staged bytes")
    past = time.time() - 3600
    for p in (old_file, old_dir_file,
              os.path.join(stage, "q_b3-deadbeef", "_temporary"),
              os.path.join(stage, "q_b3-deadbeef"),
              os.path.join(stage, "q_b4-cafebabe")):
        os.utime(p, (past, past))

    DisLog(str(tmp_path), "staged").create(2)
    assert sorted(os.listdir(stage)) == ["q_b4-cafebabe",
                                         "stage-1-cafebabe.parquet"]
    assert os.path.exists(fresh_dir_file)   # newest file inside is fresh
