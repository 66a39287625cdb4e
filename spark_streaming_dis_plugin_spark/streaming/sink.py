"""DIS producer sink for streaming queries — a foreachBatch that collects
each micro-batch to the driver as one Arrow table and commits it into
the log from the driver process (≅ DISSink broadcast lazy producer,
DISSink.scala:23-55, usage DISSparkStreamingSinkExample.scala:45-59).

Collect: the batch is projected to (partition, key, value, timestamp)
plus the id of the task that produced each row, and collected with
``DataFrame.toArrow()`` — a JVM-only plan, no Python worker. Rows with
a null or missing ``partition`` are routed in the plan by the portable
key hash (``portable_hash(key) % num_partitions``, the value
``portable_hash_py`` computes — DISSink.scala:27-34 key routing).

Commit: the driver takes the collected rows one task at a time, in task
order, splits each task's rows by log partition keeping row order, and
hands the pieces to ``commit_assigned`` — the same assign-at-commit
protocol ``format("dis")`` writes use, so both leave one segment per
(task, partition): offsets are reserved from the partition tails,
txn-tagged segments are written atomically, and the txn is recorded in
the log's ledger last.

Memory: the driver holds one whole micro-batch as an Arrow table. This
sink's traffic is small batches (perfbench ``ingest``: a few thousand
rows each); every connector gate that writes a DIS stream uses
``writeStream.format("dis")``, whose ``DisWriter`` stages on the
executors and holds one staged file at a time on the driver. A large
unthrottled backfill should write through ``format("dis")`` or bound
its batches with ``maxOffsetsPerTrigger``.

Exactly-once: each micro-batch commits under transaction tag
``<queryName>_b<batchId>``. A replayed, committed batch is skipped
wholesale before anything is collected; a crashed attempt's tagged tail
segments are rolled back first, so a batch is either fully
visible-and-committed or fully absent. (The reference DISSink is
at-least-once; the txn tag upgrades that under the
single-writer-per-stream model.)

Timestamps: segments store naive microsecond wall clocks. A
``TIMESTAMP_NTZ`` column is stored as is. A ``TIMESTAMP`` column is
collected as epoch microseconds and stored as the wall clock of the
process's local timezone — what a ``format("dis")`` write of the same
column stores, since its Python worker converts instants the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..functions.portable import portable_hash
from ..sources.dis_log import DisLog, commit_assigned, sanitize_txn


def _local_wall_clock(micros):
    """Epoch microseconds -> naive wall clock in the process's local
    timezone (the conversion a Python DataSource writer applies)."""
    import pyarrow as pa

    instants = micros.cast(pa.timestamp("us", tz="UTC")).to_pylist()
    return pa.array([None if t is None else t.astimezone().replace(tzinfo=None)
                     for t in instants], pa.timestamp("us"))


def _task_chunks(table):
    """``commit_assigned`` chunks from the collected batch: one task's
    rows at a time, in task order, split by log partition with row order
    kept."""
    import pyarrow.compute as pc

    tasks = table.column("task")
    for task in sorted(pc.unique(tasks).to_pylist()):
        rows = table.filter(pc.equal(tasks, task))
        parts = rows.column("partition")
        body = rows.select(["key", "value", "timestamp"])
        for p in sorted(pc.unique(parts).to_pylist()):
            yield p, body.filter(pc.equal(parts, p))


class DisForeachBatchSink:
    def __init__(self, log: DisLog, query_name: str = "q"):
        self.log = log
        self.query_name = query_name

    def _txn(self, batch_id: int) -> str:
        return sanitize_txn(f"{self.query_name}_b{batch_id}")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        txn = self._txn(batch_id)
        if txn in self.log.committed_txns():
            return  # replayed batch — idempotent skip
        self.log.rollback_txn(txn)  # crashed attempt — drop its tail

        key = F.col("key").cast("string")
        part = (portable_hash(F.coalesce(key, F.lit("")))
                % self.log.num_partitions()).cast("int")
        if "partition" in batch_df.columns:
            part = F.coalesce(F.col("partition").cast("int"), part)
        ts = F.col("timestamp")
        epoch_ts = isinstance(batch_df.schema["timestamp"].dataType,
                              TimestampType)
        ts = F.unix_micros(ts) if epoch_ts else ts.cast("timestamp_ntz")

        table = batch_df.select(
            part.alias("partition"), key.alias("key"),
            F.col("value").cast("string").alias("value"),
            ts.alias("timestamp"),
            F.spark_partition_id().alias("task")).toArrow()
        if epoch_ts:
            table = table.set_column(
                table.schema.get_field_index("timestamp"), "timestamp",
                _local_wall_clock(table.column("timestamp")))
        commit_assigned(self.log, _task_chunks(table), txn)
