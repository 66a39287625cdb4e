"""Per-wave cost of Python tasks: time 2 and 8 one-row tasks at local[2]
(one wave and four waves) for a Python DataSource read, a plain
``rdd.map``, a ``mapInArrow`` and a JVM-only ``range``, all into a
``noop`` write or a collect, through the package's session factory.

    python tools/task_cost.py [REPEATS]

Prints the median ms of each shape and ``per_wave_ms`` = (8 tasks - 2
tasks) / 3. A Python per-wave cost far above the JVM-only one is a fixed
cost of every Python task (worker start, imports, cache resets).
Run a second checkout's copy to measure that checkout.
"""
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.datasource import (DataSource, DataSourceReader,  # noqa: E402
                                    InputPartition)

from spark_streaming_dis_plugin_spark.session import get_spark  # noqa: E402

REPEATS = int(sys.argv[1]) if len(sys.argv) > 1 else 7

spark = get_spark("task-cost", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext


class OneRowTasks(DataSource):
    """``option("tasks", N)``: N input partitions of one row each."""

    @classmethod
    def name(cls):
        return "one_row_tasks"

    def schema(self):
        return "id long"

    def reader(self, schema):
        return OneRowReader(int(self.options["tasks"]))


class OneRowReader(DataSourceReader):
    def __init__(self, tasks):
        self.tasks = tasks

    def partitions(self):
        return [InputPartition(i) for i in range(self.tasks)]

    def read(self, partition):
        yield (partition.value,)


spark.dataSource.register(OneRowTasks)


def data_source(n):
    (spark.read.format("one_row_tasks").option("tasks", n).load()
     .write.format("noop").mode("overwrite").save())


def rdd_map(n):
    sc.parallelize(range(n), n).map(lambda x: x + 1).collect()


def map_in_arrow(n):
    (spark.range(0, n, 1, n).mapInArrow(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())


def jvm_only(n):
    spark.range(0, n, 1, n).write.format("noop").mode("overwrite").save()


for name, run in [("datasource", data_source), ("rdd.map", rdd_map),
                  ("mapInArrow", map_in_arrow), ("jvm_only", jvm_only)]:
    run(2)  # start the workers this shape uses
    ms = {}
    for n in (2, 8):
        samples = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            run(n)
            samples.append((time.perf_counter() - t0) * 1000)
        ms[n] = statistics.median(samples)
    print(f"{name:10s} 2 tasks {ms[2]:7.1f} ms  8 tasks {ms[8]:7.1f} ms  "
          f"per_wave_ms {(ms[8] - ms[2]) / 3:6.1f}")
spark.stop()
