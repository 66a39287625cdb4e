"""Snapshot (or compare) the segment-file bytes of every fixture log the
connector harness builds — the byte-identity check for any change to a
fixture-log builder or to the explicit-offset write path: write a
snapshot on the parent commit, check it on the change.

    python tools/snapshot_logs.py write /tmp/log_hashes.json [SF_DIR]
    python tools/snapshot_logs.py check /tmp/log_hashes.json [SF_DIR]

The tool imports the package from the checkout it sits in, so running a
second checkout's copy snapshots that checkout's builders.
"""
import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

MODE, OUT = sys.argv[1], sys.argv[2]
SF = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"

from pyspark.sql import SparkSession  # noqa: E402

spark = (SparkSession.builder.master("local[8]")
         .appName("snapshot-logs").config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from spark_streaming_dis_plugin_spark.operators import connector as C  # noqa: E402
from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog  # noqa: E402

MATERIALIZERS = [
    "_materialized_log",
    "_materialized_scrambled_log",
    "_materialized_ordered_log",
    "_materialized_scrambled_multipart_log",
    "_materialized_docs_log",
    "_materialized_embeddings_log",
    "_materialized_ann_query_log",
    "_materialized_zvalue_log",
    "_materialized_typed_value_log",
]


def fixture_logs():
    """(label, DisLog) for every fixture log; the multi-stream root
    contributes one entry per stream."""
    for name in MATERIALIZERS:
        yield name, getattr(C, name)(spark, SF)
    root = C._materialized_multi_log(spark, SF)
    for stream, _ in C.MULTI_STREAM_SPLIT:
        yield f"_materialized_multi_log/{stream}", DisLog(root, stream)


def log_hashes(log) -> dict:
    """Key by the deterministic (partition, from, until, rows) prefix —
    the trailing filename component is a uuid4 — and hash the BYTES."""
    out = {}
    for p in sorted(log.partitions()):
        for seg in log.segment_infos(p):
            base = os.path.basename(seg.path)
            key = f"{p}/" + "-".join(base.split("-")[:4])
            with open(seg.path, "rb") as f:
                h = hashlib.sha256(f.read()).hexdigest()
            out[key] = h
    return out


snap = {}
for name, log in fixture_logs():
    snap[name] = log_hashes(log)
    print(f"{name}: {len(snap[name])} segments", flush=True)

if MODE == "write":
    json.dump(snap, open(OUT, "w"), indent=1, sort_keys=True)
    print(f"wrote {OUT}")
else:
    ref = json.load(open(OUT))
    bad = 0
    for name in snap:
        if ref.get(name) != snap[name]:
            bad += 1
            rk, sk = set(ref.get(name, {})), set(snap[name])
            print(f"MISMATCH {name}: only_ref={sorted(rk - sk)[:3]} "
                  f"only_new={sorted(sk - rk)[:3]} "
                  f"differing={[k for k in rk & sk if ref[name][k] != snap[name][k]][:3]}")
    print("RESULT:", "OK all byte-identical" if bad == 0 else f"{bad} mismatched")
    sys.exit(1 if bad else 0)
