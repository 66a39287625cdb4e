"""DIS producer sink for streaming queries — a foreachBatch that stages
each micro-batch with Spark's own parquet writer and commits it into the
log from the driver process (≅ DISSink broadcast lazy producer,
DISSink.scala:23-55, usage DISSparkStreamingSinkExample.scala:45-59).

Staging: the batch is projected to (partition, key, value, timestamp)
and written by the executors — no Python worker — into a txn-scoped
directory ``<stream>/_staging/<txn>-<hex>/``, one parquet file per task
(no ``partitionBy``, so each task keeps its row order). Rows with a null
or missing ``partition`` are routed in the plan by the portable key hash
(``portable_hash(key) % num_partitions``, the value
``portable_hash_py`` computes — DISSink.scala:27-34 key routing).

Commit: the driver reads ONE staged file at a time, in task order,
splits it by log partition keeping row order, and hands the pieces to
``commit_assigned`` — the same assign-at-commit protocol
``format("dis")`` writes use: offsets are reserved from the partition
tails, txn-tagged segments are written atomically, and the txn is
recorded in the log's ledger last. The staging directory is removed in
a ``finally``; one orphaned by a crashed driver is reclaimed by
``DisLog.sweep_stale_tmps``.

Exactly-once: each micro-batch commits under transaction tag
``<queryName>_b<batchId>``. A replayed, committed batch is skipped
wholesale before anything is staged; a crashed attempt's tagged tail
segments are rolled back first, so a batch is either fully
visible-and-committed or fully absent. (The reference DISSink is
at-least-once; the txn tag upgrades that under the
single-writer-per-stream model.)

Timestamps: segments store naive microsecond wall clocks. A
``TIMESTAMP_NTZ`` column is stored as is. A ``TIMESTAMP`` column is
staged as epoch microseconds and stored as the wall clock of the
process's local timezone — what a ``format("dis")`` write of the same
column stores, since its Python worker converts instants the same way.
"""

from __future__ import annotations

import os
import shutil
import uuid

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


def _staged_tables(paths: list[str], epoch_ts: bool):
    """``commit_assigned`` chunks from the staged files: one file read at
    a time, split by log partition with row order kept."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for path in paths:
        table = pq.read_table(path).replace_schema_metadata(None)
        if epoch_ts:
            table = table.set_column(
                table.schema.get_field_index("timestamp"), "timestamp",
                _local_wall_clock(table.column("timestamp")))
        parts = table.column("partition")
        body = table.select(["key", "value", "timestamp"])
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

        stage = os.path.join(self.log.stream_dir, "_staging",
                             f"{txn}-{uuid.uuid4().hex[:8]}")
        try:
            (batch_df.select(part.alias("partition"), key.alias("key"),
                             F.col("value").cast("string").alias("value"),
                             ts.alias("timestamp"))
             .write.parquet("file:" + os.path.abspath(stage)))
            # part-<task>-<job uuid>-c<nnn>: task order, then file order
            names = sorted((n for n in os.listdir(stage)
                            if n.startswith("part-") and n.endswith(".parquet")),
                           key=lambda n: (int(n.split("-")[1]), n))
            commit_assigned(self.log, _staged_tables(
                [os.path.join(stage, n) for n in names], epoch_ts), txn)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


def write_stream_to_dis(df: DataFrame, log: DisLog, checkpoint: str,
                        query_name: str = "dis_sink"):
    """writeStream -> DIS log, exactly-once via txn-tagged segment appends."""
    sink = DisForeachBatchSink(log, query_name)
    return (df.writeStream
            .queryName(query_name)
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint))
