"""The DIS-shaped log substrate.

The reference's data model (SURVEY.md §1.1) is: stream -> numbered
partitions -> records with monotonically increasing per-partition offsets,
each record an envelope (topic/stream, partition, offset, key, value,
timestamp) — the shape of a Kafka ConsumerRecord
(/root/reference/.../OffsetRange.scala:101-105, demo DISSparkRDDExample.scala:41).

Two representations here:

1. :func:`envelope` — a *pure DataFrame transform* that re-cuts the driver's
   ``events`` fixture into that envelope deterministically (partition =
   user_id % N, offset = dense per-partition rank of event_id). Used by the
   oracle-checked connector queries; :data:`ENVELOPE_SQL` is the equivalent
   DuckDB SQL so both engines derive the identical log.

2. :class:`DisLog` — an on-disk partitioned log (one directory per
   partition, offset-ordered parquet segments + a JSON metadata file).
   Backs the ``format("dis")`` Python DataSource (batch + streaming) and a
   producer-style writer, standing in for the DIS service itself. At
   cluster scale the same layout maps 1:1 onto object storage
   (s3://bucket/stream/p00000/segment-*.parquet).
"""

from __future__ import annotations

import dataclasses as _dc
import hashlib as _hashlib
import json
import os
import re as _re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEFAULT_NUM_PARTITIONS = 4

ENVELOPE_COLUMNS = ("stream", "partition", "offset", "key", "value", "timestamp")


def envelope(events: DataFrame, stream: str = "events",
             num_partitions: int = DEFAULT_NUM_PARTITIONS) -> DataFrame:
    """events fixture -> DIS record envelope, deterministically.

    partition = user_id % num_partitions; offset = rank of event_id within
    the partition (monotonic from 0); key = user_id as string; value = the
    event's ``props`` JSON payload verbatim; timestamp = event ts.

    The per-partition ``row_number`` is a single shuffle by partition id —
    at 100 TB this is the same shuffle the log service itself performs to
    assign offsets, and it parallelizes across num_partitions * AQE splits.
    """
    part = (F.col("user_id") % num_partitions).cast("int")
    w = Window.partitionBy(part).orderBy("event_id")
    return events.select(
        F.lit(stream).alias("stream"),
        part.alias("partition"),
        (F.row_number().over(w) - 1).cast("long").alias("offset"),
        F.col("user_id").cast("string").alias("key"),
        F.col("props").alias("value"),
        F.col("ts").alias("timestamp"),
    )


def envelope_sql(stream: str = "events",
                 num_partitions: int = DEFAULT_NUM_PARTITIONS) -> str:
    """DuckDB SQL computing the identical envelope (oracle side)."""
    return f"""
        SELECT '{stream}' AS stream,
               CAST(user_id % {num_partitions} AS INT) AS "partition",
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY user_id % {num_partitions}
                    ORDER BY event_id) - 1 AS BIGINT) AS "offset",
               CAST(user_id AS VARCHAR) AS "key",
               props AS "value",
               CAST(ts AS TIMESTAMP) AS "timestamp"
        FROM events
    """


ENVELOPE_SQL = envelope_sql()


@_dc.dataclass(frozen=True)
class SegmentInfo:
    """Everything planning needs, parsed from a segment file name — range,
    row count (rows < until-from on a compacted/gappy segment), and the
    producer transaction that wrote it (exactly-once bookkeeping)."""
    from_offset: int
    until_offset: int
    rows: int
    txn: str | None
    path: str

    @property
    def dense(self) -> bool:
        return self.rows == self.until_offset - self.from_offset


_SEG_RE = _re.compile(
    r"^seg-(\d+)-(\d+)(?:-n(\d+))?(?:-txn_([A-Za-z0-9_]+))?-[0-9a-f]+\.parquet$")


def sanitize_txn(txn: str) -> str:
    """Filename-safe transaction tag (no '-' so name parsing stays split-safe).

    Lossy substitution alone would alias distinct user tags ('job-1' and
    'job_1' both → 'job_1'), making a new txn look already-committed (lost
    append) or letting rollback_txn delete another txn's segments — so any
    tag that needs rewriting gets a short content hash suffix to keep
    distinct inputs distinct."""
    safe = _re.sub(r"[^A-Za-z0-9_]", "_", txn)
    if safe == txn:
        return safe
    digest = _hashlib.sha1(txn.encode("utf-8")).hexdigest()[:8]
    return f"{safe}_{digest}"


def segment_name(from_offset: int, until_offset: int, rows: int,
                 txn: str | None = None) -> str:
    tag = f"-txn_{sanitize_txn(txn)}" if txn else ""
    return (f"seg-{from_offset:012d}-{until_offset:012d}-n{rows}{tag}"
            f"-{uuid.uuid4().hex[:8]}.parquet")


class DisLog:
    """On-disk partitioned, offset-addressable log.

    Layout::

        <root>/<stream>/metadata.json              {"num_partitions": N}
        <root>/<stream>/p00000/seg-<from>-<until>-n<rows>[-txn_<tag>]-<uuid>.parquet
        <root>/<stream>/_commits.json              {"txns": [...]}  (sink ledger)

    Segment files carry columns (offset, key, value, timestamp), rows
    offset-ordered within the file; file names embed the half-open offset
    range + row count so planning (earliest/latest/pruning/count) is pure
    directory listing — no data I/O, mirroring the reference's metadata-only
    count/take (DISRDD.scala:89-144). ``rows < until-from`` marks a
    compacted (gappy) segment (DISRDD.scala:74-75 semantics).
    """

    SEGMENT_SCHEMA = ("offset", "key", "value", "timestamp")

    def __init__(self, root: str, stream: str):
        self.root = root
        self.stream = stream
        self.stream_dir = os.path.join(root, stream)

    # ------------------------------------------------------------- metadata

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.stream_dir, "metadata.json")

    def exists(self) -> bool:
        return os.path.exists(self._meta_path)

    def num_partitions(self) -> int:
        if not os.path.exists(self._meta_path):
            raise FileNotFoundError(
                f"no DIS log for stream '{self.stream}' under '{self.root}' "
                f"(missing {self._meta_path}); create one with "
                f"DisLog(root, stream).create(n) or create_log_from_events()")
        # Writers are atomic (tmp + os.replace), so a reader should never
        # see a torn file — the short retry below is belt-and-braces for
        # filesystems without atomic-rename visibility (e.g. some network
        # mounts) and costs nothing on the happy path.
        last_err: Exception | None = None
        for _ in range(5):
            try:
                with open(self._meta_path) as f:
                    return int(json.load(f)["num_partitions"])
            except (json.JSONDecodeError, KeyError, ValueError, OSError) as e:
                last_err = e
                time.sleep(0.02)
        raise last_err  # type: ignore[misc]

    def partitions(self) -> list[int]:
        """Readable partitions — cf. DISUtils.getTopicPartitions (:345-361)."""
        return list(range(self.num_partitions()))

    def _part_dir(self, partition: int) -> str:
        return os.path.join(self.stream_dir, f"p{partition:05d}")

    def segment_infos(self, partition: int) -> list[SegmentInfo]:
        """Sorted SegmentInfo per segment file — pure directory listing.

        Overlap resolution: a segment whose span is STRICTLY contained in
        a wider segment's span is dropped in favor of the wider one. The
        only writer that produces containment is ``merge_small_segments``
        (merged file renamed into place before the originals are removed),
        so if a compactor crashes mid-swap the reader sees the merged file
        plus some originals and must not double-read those offsets.
        Equal-span files are never dropped (no legitimate writer produces
        them; dropping one would mask a different corruption). Uncommitted
        txn segments can never be covered — they are merge-ineligible and
        break a merge run — so ``rollback_txn`` still sees them.
        """
        d = self._part_dir(partition)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            m = _SEG_RE.match(name)
            if not m:
                continue
            frm, until = int(m.group(1)), int(m.group(2))
            rows = int(m.group(3)) if m.group(3) else until - frm
            out.append(SegmentInfo(frm, until, rows, m.group(4),
                                   os.path.join(d, name)))
        # Strict-containment filter: sort widest-first at each from_offset;
        # every already-kept segment has from <= s.from, so s is covered
        # iff s.until < max(kept until) or it ends at the covered max but
        # starts strictly inside the covering span.
        out.sort(key=lambda s: (s.from_offset, -s.until_offset))
        kept: list[SegmentInfo] = []
        cov_from, cov_until = -1, -1
        for s in out:
            wider = s.until_offset - s.from_offset < cov_until - cov_from
            if s.until_offset <= cov_until and wider:
                continue
            kept.append(s)
            if s.until_offset > cov_until:
                cov_from, cov_until = s.from_offset, s.until_offset
        return sorted(kept, key=lambda s: (s.from_offset, s.until_offset))

    def _segments(self, partition: int) -> list[tuple[int, int, str]]:
        """Sorted [(from, until, path)] parsed from segment file names."""
        return [(s.from_offset, s.until_offset, s.path)
                for s in self.segment_infos(partition)]

    def has_gaps(self) -> bool:
        """True if any segment is compacted (rows < until-from) or there is
        a hole between consecutive segments — metadata-only check."""
        for p in self.partitions():
            prev_until = None
            for s in self.segment_infos(p):
                if not s.dense:
                    return True
                if prev_until is not None and s.from_offset > prev_until:
                    return True
                prev_until = s.until_offset
        return False

    def earliest_offsets(self) -> dict[int, int]:
        return {p: (segs[0][0] if (segs := self._segments(p)) else 0)
                for p in self.partitions()}

    def latest_offsets(self) -> dict[int, int]:
        """Next offset to be written per partition (exclusive end of log)."""
        return {p: (segs[-1][1] if (segs := self._segments(p)) else 0)
                for p in self.partitions()}

    def segments_for_range(self, partition: int, from_offset: int,
                           until_offset: int) -> list[str]:
        """Paths overlapping [from, until) — file-level pruning by name."""
        return [path for f, u, path in self._segments(partition)
                if f < until_offset and u > from_offset]

    def offsets_for_time(self, ts) -> dict[int, int]:
        """Per-partition earliest offset whose record timestamp >= ``ts``
        — the Kafka ``offsetsForTimes`` contract backing the
        ``startingTimestamp`` option (the Kafka source's
        startingOffsetsByTimestamp family). A partition with no record at
        or after ``ts`` resolves to its latest offset (empty read), the
        Kafka source's default no-match strategy.

        Planning cost, not scan cost: candidate segments are selected by
        PARQUET FOOTER statistics (row-group max(timestamp) — a few-KB
        metadata read per segment, no data pages), and because offsets
        increase across segments, the answer lies in the FIRST segment
        whose max timestamp reaches ``ts`` — exactly one segment's
        (offset, timestamp) columns are decoded per partition, even on
        logs whose event time is not monotone in offset. At object-store
        scale this is the same footer-stat pruning the parquet scan
        itself uses."""
        import datetime

        import pyarrow.parquet as pq

        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        out: dict[int, int] = {}
        latest = self.latest_offsets()
        for p in self.partitions():
            resolved = None
            for f, u, path in self._segments(p):
                md = pq.ParquetFile(path).metadata
                seg_max = None
                for rg in range(md.num_row_groups):
                    group = md.row_group(rg)
                    stats = next(
                        (group.column(i).statistics
                         for i in range(group.num_columns)
                         if group.column(i).path_in_schema == "timestamp"),
                        None)
                    if stats is None or not stats.has_min_max:
                        seg_max = None   # no stats -> must decode
                        break
                    m = stats.max
                    seg_max = m if seg_max is None or m > seg_max else seg_max
                if seg_max is not None and seg_max < ts:
                    continue             # wholly before ts — skip by footer
                tbl = pq.read_table(path, columns=["offset", "timestamp"])
                offs = tbl.column("offset").to_pylist()
                times = tbl.column("timestamp").to_pylist()
                cand = [o for o, t in zip(offs, times) if t >= ts]
                if cand:
                    resolved = min(cand)
                    break
            out[p] = resolved if resolved is not None else latest.get(p, 0)
        return out

    # ------------------------------------------- producer txn ledger (sink)

    @property
    def _ledger_path(self) -> str:
        return os.path.join(self.stream_dir, "_commits.json")

    def committed_txns(self) -> set[str]:
        if not os.path.exists(self._ledger_path):
            return set()
        with open(self._ledger_path) as f:
            return set(json.load(f).get("txns", []))

    def record_txn(self, txn: str) -> None:
        """Atomically (write temp + rename) add a txn to the commit ledger —
        the visibility point of an exactly-once producer append."""
        txns = self.committed_txns()
        txns.add(sanitize_txn(txn))
        tmp = self._ledger_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"txns": sorted(txns)}, f)
        os.replace(tmp, self._ledger_path)

    def rollback_txn(self, txn: str) -> int:
        """Delete segments tagged with an UNCOMMITTED txn (crash between
        segment rename and ledger record). Single-writer streams append
        batches in order, so such segments are always the partition tail —
        removing them restores the pre-append state. Idempotent."""
        tag = sanitize_txn(txn)
        if tag in self.committed_txns():
            return 0
        removed = 0
        for p in self.partitions():
            for s in self.segment_infos(p):
                if s.txn == tag:
                    os.remove(s.path)
                    removed += 1
        return removed

    # -------------------------------------------------------------- writing

    def sweep_stale_tmps(self, min_age_seconds: float = 60.0) -> int:
        """Remove orphaned ``*.tmp-<hex>`` staging files left by a crash
        between write and ``os.replace`` (r12 advice #2). The uuid suffix
        that makes concurrent writers collision-free also means a crashed
        run's tmp is never self-overwritten by a retry, so orphans would
        otherwise accumulate forever (invisible to ``_SEG_RE``, so reads
        are unaffected — this is a disk-leak sweep, not a correctness
        one). Only files older than ``min_age_seconds`` are removed: a
        LIVE writer's tmp exists for milliseconds, so the age gate keeps
        the sweep safe to run next to a concurrent writer. Called from
        the writer-side entry points (create, merge_small_segments).

        The same gate applies to every entry directly under
        ``<stream>/_staging/``: the ``stage-*.parquet`` files of a
        crashed ``format("dis")`` task or driver, and the per-txn
        directories that a foreachBatch sink crashed mid-batch left
        behind when it still staged its batches there (it now commits
        from a driver-side collect and stages nothing). A directory's
        age is that of the newest file in it, so a writer still filling
        it is left alone."""
        cutoff = time.time() - min_age_seconds
        removed = 0
        if not os.path.isdir(self.stream_dir):
            return 0
        stage_dir = os.path.join(self.stream_dir, "_staging")
        for dirpath, dirnames, filenames in os.walk(self.stream_dir):
            if dirpath == stage_dir:
                dirnames.clear()   # swept whole below, not walked
                continue
            for name in filenames:
                if ".tmp-" not in name:
                    continue
                path = os.path.join(dirpath, name)
                try:
                    if os.path.getmtime(path) < cutoff:
                        os.remove(path)
                        removed += 1
                except OSError:
                    pass          # racing writer finished its replace
        for name in (os.listdir(stage_dir) if os.path.isdir(stage_dir)
                     else ()):
            path = os.path.join(stage_dir, name)
            try:
                if _newest_mtime(path) >= cutoff:
                    continue
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)
                removed += 1
            except OSError:
                pass              # its writer committed and removed it
        return removed

    def _write_meta(self, payload: dict) -> None:
        """Atomic meta write: temp file + os.replace, same idiom as the
        commit ledger (record_txn) and segment merge. The streaming
        planner re-reads metadata.json from a SEPARATE worker process on
        every latestOffset() trigger; a truncating in-place ``open(path,
        "w")`` gives that reader a window where the file is empty and
        json.load raises — a real cross-process race observed as a
        transient latestOffset failure in dynamic-add streams."""
        tmp = self._meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._meta_path)

    def create(self, num_partitions: int) -> "DisLog":
        os.makedirs(self.stream_dir, exist_ok=True)
        self.sweep_stale_tmps()
        self._write_meta({"num_partitions": num_partitions,
                          "created_ms": int(time.time() * 1000)})
        for p in range(num_partitions):
            os.makedirs(self._part_dir(p), exist_ok=True)
        return self

    def add_partitions(self, n: int = 1) -> int:
        """Scale the stream out by n partitions (DIS UpdatePartitionCount).

        Readers pick the new partitions up on their next planning pass —
        the streaming reader re-lists the log every latestOffset() call and
        admits a new partition at its earliest offset, mirroring the
        dynamic-add path (DirectDISInputDStream.scala:185-220)."""
        total = self.num_partitions() + n
        self._write_meta({"num_partitions": total,
                          "updated_ms": int(time.time() * 1000)})
        for p in range(total - n, total):
            os.makedirs(self._part_dir(p), exist_ok=True)
        return total

    def append(self, records: "object") -> dict[int, int]:
        """Append a pandas DataFrame of (partition, key, value, timestamp).

        Producer-side path (cf. DISSink.scala:23-55): offsets are assigned
        at append time, one segment file per partition per call. Returns
        the new latest offsets. Single-process writer by design — the log
        stands in for the DIS *service*, which owns offset assignment; Spark
        jobs append through :func:`commit_assigned` instead (the
        ``format("dis")`` writer and streaming/sink.py), exactly-once per
        txn.
        """
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        latest = self.latest_offsets()
        for part, grp in records.groupby("partition"):
            part = int(part)
            start = latest.get(part, 0)
            n = len(grp)
            pdf = pd.DataFrame({
                "offset": range(start, start + n),
                "key": grp["key"].astype("object").values,
                "value": grp["value"].astype("object").values,
                "timestamp": pd.to_datetime(grp["timestamp"].values),
            })
            path = os.path.join(self._part_dir(part),
                                segment_name(start, start + n, n))
            _write_segment(pa.Table.from_pandas(pdf, preserve_index=False), path)
            latest[part] = start + n
        return latest


def expire_before(log: DisLog, offsets: dict[int, int]) -> dict[int, int]:
    """Retention: drop whole segments entirely below the per-partition
    cutoff (like a time/size-based retention sweep in the DIS service —
    offsets are never renumbered, the log simply starts later). Returns
    segments removed per partition. Metadata-only decisions; a segment
    STRADDLING the cutoff is kept whole (retention is segment-granular,
    as in Kafka)."""
    removed: dict[int, int] = {}
    for p, cutoff in offsets.items():
        n = 0
        for seg in log.segment_infos(p):
            if seg.until_offset <= cutoff:
                os.remove(seg.path)
                n += 1
        removed[p] = n
    return removed


def retain_last_rows(log: DisLog, max_rows: int) -> dict[int, int]:
    """Convenience retention policy: keep at least the newest ``max_rows``
    rows per partition (segment-granular)."""
    cutoffs = {}
    for p in log.partitions():
        segs = log.segment_infos(p)
        kept = 0
        cutoff = segs[0].from_offset if segs else 0
        for seg in reversed(segs):
            kept += seg.rows
            cutoff = seg.from_offset
            if kept >= max_rows:
                break
        cutoffs[p] = cutoff
    return expire_before(log, cutoffs)


def compact_log(log: DisLog) -> dict[int, int]:
    """Kafka-style log compaction: per partition, retain only the LAST
    record for each key; offsets are preserved, so segments become sparse
    (rows < until-from) — the substrate the reference reads with
    ``spark.streaming.dis.allowNonConsecutiveOffsets``
    (DISRDD.scala:74-75,271-315). Returns records removed per partition.

    Service-side operation (the log stands in for the DIS service): each
    segment is rewritten in place one at a time, newest first, so memory
    is bounded by a single segment regardless of log size.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    removed: dict[int, int] = {}
    for p in log.partitions():
        seen: set = set()
        dropped = 0
        # newest->oldest: the last occurrence of a key wins
        for seg in reversed(log.segment_infos(p)):
            table = pq.read_table(seg.path)
            keys = table.column("key").to_pylist()
            keep = []
            for k in reversed(keys):        # within-segment: later wins
                keep.append(k not in seen)
                seen.add(k)
            keep.reverse()
            if all(keep):
                continue
            kept = table.filter(pa.array(keep))
            dropped += table.num_rows - kept.num_rows
            new_path = os.path.join(
                os.path.dirname(seg.path),
                segment_name(seg.from_offset, seg.until_offset,
                             kept.num_rows, seg.txn))
            _write_segment(kept, new_path)
            os.remove(seg.path)
        removed[p] = dropped
    return removed


def create_log_from_events(spark: SparkSession, events_path: str, root: str,
                           stream: str = "events",
                           num_partitions: int = DEFAULT_NUM_PARTITIONS,
                           segment_rows: int = 250) -> DisLog:
    """Materialize the :func:`envelope` of an events parquet as a DisLog.

    Fully distributed ingestion: the envelope (which already assigns
    deterministic offsets) is shuffled by log partition, sorted within
    tasks, and written through the ``format("dis")`` writer's
    explicit-offset mode — executors stage the segment files, the driver's
    commit only validates offset metadata and renames (no row of data ever
    crosses the driver). Segments are cut every ``segment_rows`` offsets so
    offset-range reads exercise real file pruning.
    """
    from ..tables import load_events
    from .dis_datasource import DisDataSource

    spark.dataSource.register(DisDataSource)
    log = DisLog(root, stream).create(num_partitions)
    env = envelope(load_events(spark, os.path.dirname(events_path)),
                   stream, num_partitions)
    write_with_offsets(
        env.select("partition", "offset", "key", "value", "timestamp"),
        root, stream, num_partitions, segment_rows)
    return log


def write_with_offsets(env: DataFrame, root: str, stream: str,
                       num_partitions: int, segment_rows: int) -> None:
    """Append rows that carry their own ``partition`` and ``offset``
    through the ``format("dis")`` writer's explicit-offset mode: shuffled
    into ``num_partitions`` tasks by log partition and sorted by offset
    within each, so every task hands the writer contiguous per-partition
    runs; segments are cut every ``segment_rows`` offsets."""
    (env.repartition(num_partitions, "partition")
        .sortWithinPartitions("partition", "offset")
        .write.format("dis")
        .option("path", root).option("stream", stream)
        .option("segmentRows", str(segment_rows))
        .mode("append").save())


def _newest_mtime(path: str) -> float:
    """mtime of ``path``, or of the newest entry anywhere under it."""
    newest = os.path.getmtime(path)
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            newest = max(newest, os.path.getmtime(os.path.join(dirpath, name)))
    return newest


def _segment_schema():
    import pyarrow as pa

    return pa.schema([("offset", pa.int64()), ("key", pa.string()),
                      ("value", pa.string()),
                      ("timestamp", pa.timestamp("us"))])


def _write_segment(table, path: str) -> None:
    """Write a segment in the one segment schema: offset int64, key and
    value string, timestamp microseconds. Pandas produces nanosecond
    columns, which Spark's parquet reader rejects, and infers ``null``
    for an all-None column, which Spark reads as an int column that no
    string-keyed segment can be read together with.

    ATOMIC: bytes land under a ``.tmp-<hex>`` suffix that the anchored
    ``_SEG_RE`` (``\\.parquet$``) can never match, then os.replace makes
    the final name appear with its content complete. Without this, a
    producer appending to a log while a stream of the same log runs
    races the planner: ``latest_offsets``/``segment_infos`` parse the
    FILENAME (which under a direct write exists before the bytes do),
    so the planner could schedule offsets whose parquet an executor then
    reads torn — the same cross-process class as the metadata.json race."""
    import pyarrow.parquet as pq

    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(table.cast(_segment_schema()), tmp)
    os.replace(tmp, path)


def commit_assigned(log: DisLog, chunks, txn: str | None = None,
                    segment_rows: int = 0) -> None:
    """Assign-at-commit append — the one copy of the producer's txn /
    offset-assignment protocol, shared by ``DisWriter`` (``format("dis")``
    writes) and ``DisForeachBatchSink``.

    ``chunks`` yields ``(partition, table)`` pairs of (key, value,
    timestamp) rows in commit order; it is consumed lazily, so
    ``DisWriter``, which reads its staged files inside the generator,
    bounds driver memory by one staged file, never the batch.
    ``DisForeachBatchSink`` collects its whole micro-batch first and
    holds it while the chunks are written. Each chunk is appended
    at its partition's tail as txn-tagged segments (cut every
    ``segment_rows`` rows), each written atomically; rows keep their
    order, so a partition's offsets follow chunk order. The txn lands in
    the ledger LAST — until then a crash leaves only tagged tail
    segments, which ``rollback_txn`` removes before the replay. Skipping
    a committed txn and that rollback are the caller's steps, taken
    before this is called."""
    import pyarrow as pa

    latest = log.latest_offsets()
    for part, table in chunks:
        n_rows = table.num_rows
        if n_rows == 0:
            continue
        base = latest.get(part, 0)
        step = segment_rows or n_rows
        for lo in range(0, n_rows, step):
            chunk = table.slice(lo, step)
            n = chunk.num_rows
            chunk = chunk.add_column(
                0, "offset", pa.array(range(base, base + n), pa.int64()))
            _write_segment(chunk, os.path.join(
                log._part_dir(part), segment_name(base, base + n, n, txn)))
            base += n
        latest[part] = base
    if txn:
        log.record_txn(txn)


def merge_small_segments(log: DisLog, target_rows: int) -> dict[int, int]:
    """Maintenance: coalesce runs of ADJACENT committed segments into
    ~``target_rows`` files — the small-file compaction every log store
    runs (Kafka log-segment rolling in reverse): a high-frequency
    producer leaves thousands of tiny parquet files per partition, and
    scan parallelism degrades into per-file overhead. Offsets are
    untouched; only the file layout changes.

    Safety rules:
    - only segments whose txn is absent or COMMITTED are eligible — a
      crashed producer's uncommitted tail must stay byte-identical so
      ``rollback_txn`` can still remove it;
    - only offset-CONTIGUOUS runs merge (``prev.until == next.from``),
      so a retention gap is never papered over; sparse (compacted)
      segments merge fine — row counts stay in the filename, density is
      derived, and readers already handle rows < span;
    - one run is materialized at a time (memory bounded by target_rows).

    Returns segments ELIMINATED per partition (files_before - files_after).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    committed = log.committed_txns()
    log.sweep_stale_tmps()
    eliminated: dict[int, int] = {}

    for p in log.partitions():
        part_dir = log._part_dir(p)
        removed_here = 0

        def flush(run: list[SegmentInfo]) -> int:
            if len(run) < 2:
                return 0
            table = pa.concat_tables(pq.read_table(s.path) for s in run)
            new_path = os.path.join(part_dir, segment_name(
                run[0].from_offset, run[-1].until_offset, table.num_rows))
            # Crash-safe swap: _write_segment is internally atomic (tmp
            # name the segment regex does NOT match, then os.replace), so
            # the merged file appears complete-or-not-at-all BEFORE the
            # originals are deleted. A crash pre-rename leaves only an
            # invisible tmp file; a crash post-rename leaves merged +
            # originals coexisting, which segment_infos resolves by
            # preferring the widest span — no window ever double-reads
            # or loses offsets.
            _write_segment(table, new_path)
            for s in run:
                os.remove(s.path)
            return len(run) - 1

        run: list[SegmentInfo] = []
        run_rows = 0
        for seg in log.segment_infos(p):
            eligible = seg.txn is None or seg.txn in committed
            contiguous = (bool(run)
                          and run[-1].until_offset == seg.from_offset)
            if run and (not eligible or not contiguous):
                removed_here += flush(run)
                run, run_rows = [], 0
            if not eligible:
                continue
            run.append(seg)
            run_rows += seg.rows
            if run_rows >= target_rows:
                removed_here += flush(run)
                run, run_rows = [], 0
        removed_here += flush(run)
        eliminated[p] = removed_here
    return eliminated
