"""On-disk DIS log + bounded reads: sentinel resolution against real log
bounds, file pruning, metadata-only count/take/isEmpty pushdowns
(DISRDD.scala:89-144 semantics)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_streaming_dis_plugin_spark.sources.dis_batch import (
    dis_count, dis_is_empty, dis_read, dis_take,
)
from spark_streaming_dis_plugin_spark.sources.dis_log import (
    DisLog, create_log_from_events, envelope,
)
from spark_streaming_dis_plugin_spark.sources.offsets import (
    EARLIEST, LATEST, OffsetRange,
)
from spark_streaming_dis_plugin_spark.tables import load_events


@pytest.fixture(scope="module")
def log(spark, sf_dir, tmp_path_factory) -> DisLog:
    root = str(tmp_path_factory.mktemp("dislog"))
    return create_log_from_events(
        spark, f"{sf_dir}/events.parquet", root, segment_rows=100)


def test_log_bounds_match_envelope(spark, sf_dir, log):
    env = envelope(load_events(spark, sf_dir))
    expected = {r["partition"]: r["n"] for r in
                env.groupBy("partition").count()
                   .withColumnRenamed("count", "n").collect()}
    assert log.earliest_offsets() == {p: 0 for p in expected}
    assert log.latest_offsets() == expected


def test_full_read_equals_envelope(spark, sf_dir, log):
    ranges = [OffsetRange("events", p, EARLIEST, LATEST)
              for p in log.partitions()]
    got = dis_read(spark, log, ranges)
    env = envelope(load_events(spark, sf_dir))
    assert got.count() == env.count()
    key = lambda rows: sorted((r["partition"], r["offset"], r["value"])  # noqa: E731
                              for r in rows)
    assert key(got.collect()) == key(env.collect())


def test_bounded_read_json_dialect(spark, log):
    df = dis_read(spark, log, '{"0":[100,200],"1":[0,50]}')
    rows = df.collect()
    assert len(rows) == 150
    p0 = [r["offset"] for r in rows if r["partition"] == 0]
    assert min(p0) == 100 and max(p0) == 199  # until exclusive


def test_file_pruning(log):
    # segment_rows=100 -> range [100,200) of partition 0 touches exactly 1 file
    paths = log.segments_for_range(0, 100, 200)
    assert len(paths) == 1
    assert len(log.segments_for_range(0, 50, 250)) == 3


def test_count_pushdown_no_io(spark, log):
    latest = log.latest_offsets()
    assert dis_count(log, '{"0":[100,200]}') == 100
    full = [OffsetRange("events", p, EARLIEST, LATEST)
            for p in log.partitions()]
    assert dis_count(log, full) == sum(latest.values())
    assert dis_count(log, '{"0":[5,5]}') == 0
    assert dis_is_empty(log, '{"0":[5,5]}')
    assert not dis_is_empty(log, '{"0":[5,6]}')


def test_take_scans_minimal_ranges(spark, log):
    rows = dis_take(spark, log, '{"0":[0,-1],"1":[0,-1]}', 7)
    assert len(rows) == 7
    # budget consumed from the first range: all from partition 0
    assert all(r["partition"] == 0 for r in rows)
    assert [r["offset"] for r in rows] == list(range(7))


def test_read_empty_ranges(spark, log):
    df = dis_read(spark, log, '{"0":[10,10]}')
    assert df.count() == 0
    assert df.columns == ["stream", "partition", "offset", "key", "value",
                          "timestamp"]


def test_sentinel_resolution_against_log(spark, log):
    latest = log.latest_offsets()
    df = dis_read(spark, log, '{"2":[-2,-1]}')
    assert df.count() == latest[2]


def test_producer_append_assigns_offsets(tmp_path):
    import pandas as pd
    log = DisLog(str(tmp_path), "out").create(2)
    batch = pd.DataFrame({
        "partition": [0, 0, 1],
        "key": ["a", "b", "c"],
        "value": ["v1", "v2", "v3"],
        "timestamp": pd.to_datetime(["2024-01-01"] * 3),
    })
    latest = log.append(batch)
    assert latest == {0: 2, 1: 1}
    latest = log.append(batch)
    assert latest == {0: 4, 1: 2}  # offsets continue monotonically


def test_all_null_key_append_reads_with_keyed_segments(spark, tmp_path):
    """An append whose keys are all None still writes a string ``key``
    column: pandas alone would infer a null-typed column, which Spark
    reads as int and cannot read in one scan with a keyed segment."""
    import pandas as pd
    from pyspark.sql.types import StringType

    log = DisLog(str(tmp_path), "nullkey").create(1)
    ts = pd.to_datetime(["2024-01-01"] * 2)
    log.append(pd.DataFrame({"partition": [0, 0], "key": [None, None],
                             "value": ["a", "b"], "timestamp": ts}))
    log.append(pd.DataFrame({"partition": [0, 0], "key": ["k", None],
                             "value": ["c", "d"], "timestamp": ts}))
    null_only = dis_read(spark, log, '{"0":[0,2]}')
    assert null_only.schema["key"].dataType == StringType()
    both = dis_read(spark, log, '{"0":[0,4]}')
    assert sorted((r["offset"], r["key"], r["value"])
                  for r in both.collect()) == [
        (0, None, "a"), (1, None, "b"), (2, "k", "c"), (3, None, "d")]


# ------------------------------------------- compacted / gappy logs

def _mklog(tmp_path, name, rows_per_part=60):
    import pandas as pd

    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog
    log = DisLog(str(tmp_path / f"{name}_root"), name).create(2)
    n = rows_per_part * 2
    # repeating keys so compaction has work to do; 3 segments per partition
    for chunk in range(3):
        k = rows_per_part // 3
        log.append(pd.DataFrame({
            "partition": [i % 2 for i in range(k * 2)],
            "key": [f"k{(chunk * k * 2 + i) % 10}" for i in range(k * 2)],
            "value": [f"c{chunk}-{i}" for i in range(k * 2)],
            "timestamp": pd.to_datetime(["2024-01-01"] * (k * 2)),
        }))
    return log


def test_compaction_roundtrip_counts_and_reads(spark, tmp_path):
    """Compaction keeps the last record per key, offsets preserved;
    dis_count answers from segment metadata; reads require the
    allowNonConsecutiveOffsets flag (DISRDD.scala:74-75,271-315)."""
    import pytest

    from spark_streaming_dis_plugin_spark.sources.dis_batch import (
        dis_count, dis_read, dis_take,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        DisLog, compact_log,
    )

    log = _mklog(tmp_path, "cmp")
    full = {p: log.latest_offsets()[p] for p in log.partitions()}
    before = dis_count(log, '{"0":[-2,-1],"1":[-2,-1]}')
    assert before == sum(full.values())

    removed = compact_log(log)
    assert sum(removed.values()) > 0
    # latest/earliest unchanged: offsets are preserved under compaction
    assert log.latest_offsets() == full
    assert log.has_gaps()

    # only 10 distinct keys per partition survive at most
    after = dis_count(log, '{"0":[-2,-1],"1":[-2,-1]}')
    assert after == before - sum(removed.values())
    assert after <= 20

    # dense-assuming read fails fast without the flag...
    with pytest.raises(ValueError, match="allowNonConsecutiveOffsets"):
        dis_read(spark, log, '{"0":[-2,-1]}').count()
    # ...and works with it: one row per surviving key, last value wins
    df = dis_read(spark, log, '{"0":[-2,-1],"1":[-2,-1]}', True)
    assert df.count() == after
    assert df.groupBy("key", "partition").count() \
             .where("count > 1").count() == 0
    assert all(r["value"].startswith("c2") for r in df.collect())

    # partial-overlap count on a compacted segment (the one scan case)
    mid = full[0] // 2
    got = dis_count(log, f'{{"0":[1,{mid}]}}')
    exact = dis_read(spark, log, f'{{"0":[1,{mid}]}}', True).count()
    assert got == exact

    # take with gaps: returns exactly n real rows when available
    rows = dis_take(spark, log, '{"0":[-2,-1],"1":[-2,-1]}', 7, True)
    assert len(rows) == 7


def test_writer_allow_gaps_ingests_sparse_offsets(spark, tmp_path):
    """Explicit-offset ingestion of a sparse range (a log-to-log copy of
    a compacted stream) requires the flag and round-trips."""
    import pytest

    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisDataSource,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    spark.dataSource.register(DisDataSource)
    out = DisLog(str(tmp_path / "sparse_root"), "sp").create(1)
    df = spark.createDataFrame(
        [(0, o, f"k{o}", f"v{o}") for o in (0, 2, 5, 9)],
        "partition int, offset long, key string, value string",
    ).withColumn("timestamp",
                 F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
    wr = (df.write.format("dis").mode("append")
          .option("path", out.root).option("stream", "sp"))
    with pytest.raises(Exception, match="[nN]on.consecutive"):
        wr.save()
    wr.option("allowNonConsecutiveOffsets", "true").save()
    assert out.latest_offsets() == {0: 10}
    assert out.has_gaps()
    back = (spark.read.format("dis")
            .option("path", out.root).option("stream", "sp")
            .option("allowNonConsecutiveOffsets", "true").load())
    assert sorted(r["offset"] for r in back.collect()) == [0, 2, 5, 9]


def test_retention_expire_and_fail_on_data_loss(spark, tmp_path):
    """Retention drops whole segments below the cutoff; reading expired
    offsets fails loudly by default and clamps to earliest with
    failOnDataLoss=false (Kafka-source contract)."""
    from spark_streaming_dis_plugin_spark.sources.dis_batch import (
        dis_count, dis_read,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        retain_last_rows,
    )

    log = _mklog(tmp_path, "ret")   # 3 segments of 20 rows per partition
    assert log.earliest_offsets() == {0: 0, 1: 0}
    removed = retain_last_rows(log, 25)   # keep newest 2 segments (40 rows)
    assert removed == {0: 1, 1: 1}
    assert log.earliest_offsets() == {0: 20, 1: 20}
    assert log.latest_offsets() == {0: 60, 1: 60}   # offsets not renumbered

    # expired range fails by default...
    with pytest.raises(ValueError, match="failOnDataLoss"):
        dis_read(spark, log, '{"0":[0,60]}').count()
    # ...and clamps to earliest when allowed
    df = dis_read(spark, log, '{"0":[0,60]}', fail_on_data_loss=False)
    assert df.count() == 40
    assert df.agg({"offset": "min"}).first()[0] == 20
    # counts answer from surviving segment metadata
    assert dis_count(log, '{"0":[-2,-1],"1":[-2,-1]}') == 80
    # DataSource option surface
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisDataSource,
    )
    spark.dataSource.register(DisDataSource)
    with pytest.raises(Exception, match="failOnDataLoss"):
        (spark.read.format("dis")
         .option("path", log.root).option("stream", "ret")
         .option("offsetRanges", '{"0":[0,60]}').load().count())
    ok = (spark.read.format("dis")
          .option("path", log.root).option("stream", "ret")
          .option("offsetRanges", '{"0":[0,60]}')
          .option("failOnDataLoss", "false").load())
    assert ok.count() == 40


def test_streaming_restart_after_retention(spark, tmp_path):
    """A checkpointed stream whose position was expired by retention:
    failOnDataLoss=false resumes from the new earliest (losing only the
    expired records), no duplicates."""
    import pandas as pd

    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisDataSource,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        DisLog, expire_before,
    )

    spark.dataSource.register(DisDataSource)
    root = str(tmp_path / "sret_root")
    out = str(tmp_path / "sret_out")
    slog = DisLog(root, "sret").create(1)

    def add(n, tag):
        slog.append(pd.DataFrame({
            "partition": [0] * n,
            "key": [f"k{i}" for i in range(n)],
            "value": [f"{tag}{i}" for i in range(n)],
            "timestamp": pd.to_datetime(["2024-01-01"] * n)}))

    def drain(fail="false"):
        sdf = (spark.readStream.format("dis")
               .option("path", root).option("stream", "sret")
               .option("failOnDataLoss", fail).load())
        q = (sdf.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "sret_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    add(30, "a")
    drain()
    assert spark.read.parquet(out).count() == 30
    # stop; producer keeps writing; retention expires SOME unread data
    add(30, "b")                       # offsets 30..60 (one segment)
    add(10, "c")                       # offsets 60..70
    expire_before(slog, {0: 60})       # reader's ckpt=30 now expired
    drain(fail="false")
    got = spark.read.parquet(out)
    # 30 original + the 10 surviving post-expiry records; b* lost to
    # retention, each surviving offset exactly once
    assert got.count() == 40
    assert got.where("value like 'c%'").count() == 10
    assert (got.groupBy("partition", "offset").count()
            .where("count > 1").count()) == 0


from hypothesis import given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(
    # segments: list of (gap_before, rows_kept, rows_dropped) triples
    segs=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 8),
                            st.integers(0, 8)),
                  min_size=1, max_size=6).filter(
        lambda xs: sum(k for _, k, _ in xs) > 0),
    lo_frac=st.floats(0, 1), hi_frac=st.floats(0, 1),
)
def test_gappy_count_matches_ground_truth(tmp_path_factory, segs,
                                          lo_frac, hi_frac):
    """Property: for ANY compacted segment layout (inter-segment holes +
    intra-segment dropped offsets) and ANY query range, dis_count ==
    the true number of surviving offsets in range — metadata arithmetic
    for covered/dense cases, bounded scan only at sparse boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_dis_plugin_spark.sources.dis_batch import dis_count
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        DisLog, segment_name,
    )
    from spark_streaming_dis_plugin_spark.sources.offsets import OffsetRange

    root = str(tmp_path_factory.mktemp("ht"))
    log = DisLog(root, "ht").create(1)
    import os

    offset = 0
    all_offsets = []
    for gap, kept, dropped in segs:
        offset += gap
        span = kept + dropped
        if span == 0:
            continue
        # deterministically drop the LAST `dropped` offsets of the span
        seg_offsets = list(range(offset, offset + kept))
        all_offsets.extend(seg_offsets)
        table = pa.table({
            "offset": pa.array(seg_offsets, pa.int64()),
            "key": pa.array([f"k{o}" for o in seg_offsets], pa.string()),
            "value": pa.array(["v"] * len(seg_offsets), pa.string()),
            "timestamp": pa.array([0] * len(seg_offsets),
                                  pa.timestamp("us")),
        })
        path = os.path.join(log._part_dir(0),
                            segment_name(offset, offset + span, kept))
        pq.write_table(table, path)
        offset += span

    total_span = offset
    lo = int(lo_frac * total_span)
    hi = int(hi_frac * total_span)
    lo, hi = min(lo, hi), max(lo, hi)
    got = dis_count(log, [OffsetRange("ht", 0, lo, hi)])
    truth = sum(1 for o in all_offsets if lo <= o < hi)
    assert got == truth


def test_sanitize_txn_distinct_tags_never_alias():
    """ADVICE r2: lossy substitution alone would map 'job-1' and 'job_1'
    to the same tag — a colliding txn then looks already-committed (lost
    append) or rollback_txn deletes another txn's segments. Rewritten tags
    get a content-hash suffix; clean tags pass through unchanged."""
    import re

    from spark_streaming_dis_plugin_spark.sources.dis_log import sanitize_txn

    assert sanitize_txn("job_1") == "job_1"            # clean: unchanged
    a, b = sanitize_txn("job-1"), sanitize_txn("job_1")
    assert a != b                                       # no aliasing
    assert sanitize_txn("job-1") == a                   # deterministic
    assert sanitize_txn("job.1") != a                   # distinct dirty tags
    for tag in (a, sanitize_txn("job.1"), sanitize_txn("a b/c")):
        assert re.fullmatch(r"[A-Za-z0-9_]+", tag)      # filename-safe


def test_merge_small_segments_preserves_content(spark, tmp_path):
    """Small-file maintenance: merging adjacent committed segments must
    change ONLY the file layout — identical rows+offsets on read-back,
    count pushdown still metadata-exact, uncommitted txn tails untouched."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        create_log_from_events, merge_small_segments,
    )

    sf_dir = "/root/testdata/sf0.001"
    root = str(tmp_path / "mergelog")
    log = create_log_from_events(spark, f"{sf_dir}/events.parquet", root,
                                 segment_rows=50)   # lots of small files
    before = {p: len(log.segment_infos(p)) for p in log.partitions()}
    rows_before = sorted(
        tuple(r) for r in spark.read.format("dis")
        .option("path", root).option("stream", log.stream).load()
        .select("partition", "offset", "key", "value").collect())
    latest_before = log.latest_offsets()

    eliminated = merge_small_segments(log, target_rows=500)
    after = {p: len(log.segment_infos(p)) for p in log.partitions()}

    assert sum(eliminated.values()) > 0
    for p in log.partitions():
        assert after[p] == before[p] - eliminated[p]
        assert after[p] < before[p]
    assert log.latest_offsets() == latest_before
    rows_after = sorted(
        tuple(r) for r in spark.read.format("dis")
        .option("path", root).option("stream", log.stream).load()
        .select("partition", "offset", "key", "value").collect())
    assert rows_after == rows_before


def test_merge_small_segments_skips_uncommitted_txn(spark, tmp_path):
    """A crashed producer's uncommitted tail segments must survive the
    merge byte-identically so rollback_txn can still remove them."""
    import os

    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        create_log_from_events, merge_small_segments,
    )

    sf_dir = "/root/testdata/sf0.001"
    root = str(tmp_path / "mergelog2")
    log = create_log_from_events(spark, f"{sf_dir}/events.parquet", root,
                                 segment_rows=50)
    # simulate a crashed (uncommitted) producer txn at one partition tail
    p = log.partitions()[0]
    tail = log.segment_infos(p)[-1]
    # append a fake uncommitted segment continuing the offsets
    import pyarrow.parquet as pq

    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        _write_segment, segment_name,
    )
    t = pq.read_table(tail.path)
    fake = os.path.join(os.path.dirname(tail.path), segment_name(
        tail.until_offset, tail.until_offset + t.num_rows, t.num_rows,
        "crashed_job"))
    _write_segment(t, fake)

    merge_small_segments(log, target_rows=500)
    survivors = [s for s in log.segment_infos(p) if s.txn]
    assert len(survivors) == 1 and survivors[0].path == fake
    assert log.rollback_txn("crashed_job") == 1


def test_merge_crash_window_overlap_resolution(spark, tmp_path):
    """Crash-safety of the merge swap: if the compactor dies AFTER the
    merged segment is renamed into place but BEFORE the originals are
    removed, the reader must resolve the overlap by preferring the widest
    span — identical rows, no duplicates, no loss. Also: a tmp file left
    by a crash BEFORE the rename must be invisible to planning."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        _write_segment, create_log_from_events, segment_name,
    )

    sf_dir = "/root/testdata/sf0.001"
    root = str(tmp_path / "crashlog")
    log = create_log_from_events(spark, f"{sf_dir}/events.parquet", root,
                                 segment_rows=50)
    p = log.partitions()[0]
    segs = log.segment_infos(p)
    assert len(segs) >= 3
    rows_before = sorted(
        tuple(r) for r in spark.read.format("dis")
        .option("path", root).option("stream", log.stream).load()
        .select("partition", "offset", "key", "value").collect())

    # Simulate crash-after-rename: merged file for the first two segments
    # coexists with BOTH originals (exactly what flush leaves if it dies
    # between os.replace and the os.remove loop).
    run = segs[:2]
    table = pa.concat_tables(pq.read_table(s.path) for s in run)
    merged = os.path.join(os.path.dirname(run[0].path), segment_name(
        run[0].from_offset, run[-1].until_offset, table.num_rows))
    _write_segment(table, merged)

    # Reader-side resolution: the contained originals are dropped in
    # favor of the merged span; counts stay metadata-exact.
    infos = log.segment_infos(p)
    spans = [(s.from_offset, s.until_offset) for s in infos]
    assert (run[0].from_offset, run[-1].until_offset) in spans
    assert all(s.path not in (run[0].path, run[1].path) for s in infos)
    rows_after = sorted(
        tuple(r) for r in spark.read.format("dis")
        .option("path", root).option("stream", log.stream).load()
        .select("partition", "offset", "key", "value").collect())
    assert rows_after == rows_before
    assert log.latest_offsets()[p] == max(s.until_offset for s in segs)

    # Simulate crash-before-rename: a *.parquet.tmp file must not match
    # the segment regex (planning and reads unchanged).
    shutil.copy(merged, merged + ".tmp")
    assert [(s.from_offset, s.until_offset) for s in log.segment_infos(p)
            ] == spans
