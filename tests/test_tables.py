"""``tables.load`` / ``load_events``: each table file's schema is inferred
once per file identity, and both events layouts load to the same
TIMESTAMP_NTZ values."""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType

from spark_streaming_dis_plugin_spark import tables


def _in_group(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"tables-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_launches_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    load = lambda: tables.load(spark, str(tmp_path), "orders")  # noqa: E731
    first, inferred = _in_group(spark, load)
    second, jobs = _in_group(spark, load)
    assert inferred >= 1       # the first read infers the schema in a job
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_table_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.load(spark, str(tmp_path), "nation").count() == 2
    pq.write_table(pa.table({"a": ["x"], "b": [3]}), path)
    df = tables.load(spark, str(tmp_path), "nation")
    assert df.schema.simpleString() == "struct<a:string,b:bigint>"
    assert [tuple(r) for r in df.collect()] == [("x", 3)]


def test_load_events_nanos_layout_matches_micros(spark, tmp_path):
    """The TIMESTAMP(NANOS) layout truncates to the microsecond NTZ value
    the TIMESTAMP(MICROS) layout holds, also in a session whose timezone
    is not UTC."""
    expected = [datetime.datetime(1970, 1, 1),
                datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
                datetime.datetime(2024, 3, 10, 2, 30, 0, 123456),
                datetime.datetime(2024, 11, 3, 1, 30, 0, 1)]
    micros = pa.array(expected, pa.timestamp("us"))
    nanos = pa.array([v * 1000 + 999 for v in micros.cast(pa.int64())
                      .to_pylist()], pa.timestamp("ns"))
    for layout, ts in (("us", micros), ("ns", nanos)):
        os.makedirs(tmp_path / layout)
        pq.write_table(pa.table({"event_id": list(range(len(expected))),
                                 "ts": ts}),
                       str(tmp_path / layout / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "ns" / "events.parquet")) \
        .field("ts").type == pa.timestamp("ns")
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for layout in ("us", "ns"):
            df = tables.load_events(spark, str(tmp_path / layout))
            assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
            assert [r["ts"] for r in df.orderBy("event_id").collect()] \
                == expected, layout
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
