"""Session-first TWS harness (r5 verdict ask #4 'done' condition): prove
transformWithStateInPandas runs when the SparkSession (and its JVM) is
created BEFORE this package is imported — the grading driver's exact
sequence, which env-var protobuf staging cannot serve (the JVM captures
PYTHONPATH at launch). The site .pth staged by pbvendor reaches the
JVM-spawned workers through interpreter site processing instead.

The harness scrubs any pbvendor path out of PYTHONPATH first so the test
cannot pass through the env-var channel, then runs both declared TWS
rows against their DuckDB oracles with the comparator of tests/oracle.py.

Usage: python tools/tws_driver_sim.py  (exit 0 = both rows OK)
"""
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import os, sys

# 1. Session FIRST — package not yet imported, PYTHONPATH scrubbed.
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .appName("tws-driver-sim").config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert "spark_streaming_dis_plugin_spark" not in sys.modules

# 2. NOW import the entry module (imports the package -> stages .pth).
sys.path.insert(0, %(repo)r)
os.chdir(%(repo)r)
import __spark_entry__ as E
from tests.oracle import diff, duck_connection

SF = "/root/testdata/sf0.01"
con = duck_connection(SF)
qs, oracles = E.queries(), E.oracle_sql()
bad = 0
for name in ("dis_state_totals_tws_streamed", "dis_state_timers_tws_streamed"):
    r = diff(qs[name](spark, SF), con, oracles[name])
    print(f"  {name}: {'OK' if r['hash_match'] else 'MISMATCH'} "
          f"({r['spark_rows']} rows)", flush=True)
    if not r["hash_match"]:
        bad += 1
spark.stop()
sys.exit(1 if bad else 0)
"""


def main() -> None:
    env = dict(os.environ)
    # Scrub the env-var channel: only the .pth may deliver the runtime.
    if "PYTHONPATH" in env:
        parts = [p for p in env["PYTHONPATH"].split(os.pathsep)
                 if "pbvendor" not in p and REPO not in p]
        env["PYTHONPATH"] = os.pathsep.join(parts)
    proc = subprocess.run([sys.executable, "-c", _CHILD % {"repo": REPO}],
                          env=env)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
