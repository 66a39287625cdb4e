"""Drive __spark_entry__ exactly as the verify driver does: fresh session,
entry() smoke, then every queries()[name] vs oracle_sql()[name] via DuckDB
at sf0.01 (row count + column names + order-insensitive values), through
the type-strict comparator of tests/oracle.py (``diff``).

Usage:
    python tools/drive_contract.py [TZ] [SF_DIR] [--json OUT.json]

--json writes a per-query artifact in the CORRECTNESS_r*.json row schema
({rows_match, schema_match, hash_match, spark_rows, oracle_rows, err})
so full sweeps are auditable in-repo (tools/sweep.py merges the SF/TZ
matrix into SWEEP_r{N}.json); without it, behavior is unchanged.
Queries that RAISE are recorded with err and counted as failures —
the sweep must not paper over a crashing gate.

The tool imports the package and ``__spark_entry__`` from the checkout
it sits in, so a second checkout's copy checks that checkout's code.
"""
import json, os, sys
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

argv = list(sys.argv[1:])
json_out = None
if "--json" in argv:
    i = argv.index("--json")
    json_out = argv[i + 1]
    del argv[i:i + 2]
only = None
if "--only" in argv:
    # rotation-leg support (r12 verdict #2): check just the named rows,
    # comma-separated — the sweep uses this with a DIFFERENT master /
    # shuffle-partition config for config-sensitivity coverage
    i = argv.index("--only")
    only = set(argv[i + 1].split(","))
    del argv[i:i + 2]

from pyspark.sql import SparkSession
builder = (SparkSession.builder
           .master(os.environ.get("SPARK_GRAFT_MASTER", "local[8]"))
           .appName("driver-sim").config("spark.ui.enabled","false")
           .config("spark.sql.shuffle.partitions",
                   os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
           # Without this the session runs on pyspark's 1g default heap.
           # The grading driver's 50-row sf0.01 shape survives that; a
           # full-registry sweep leg (236 rows, one session) does not —
           # round 8 OOMed at sf0.1 around row ~120 twice before this
           # was traced here (sweep.py's env default only matters
           # because this line reads it).
           .config("spark.driver.memory",
                   os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")))
# Optional: simulate a driver session in another timezone (TZ robustness):
#   python tools/drive_contract.py America/New_York
# Optional second arg: scale-factor dir (default sf0.01, the driver's SF):
#   python tools/drive_contract.py UTC /root/testdata/sf0.1
if argv:
    builder = builder.config("spark.sql.session.timeZone", argv[0])
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
df = E.entry(spark)
n = df.count()
print(f"ENTRY: rows={n} schema={df.columns}", flush=True)
assert n > 0

from tests.oracle import diff, duck_connection
SF = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
con = duck_connection(SF)

qs, oracles = E.queries(), E.oracle_sql()
if only is not None:
    unknown = sorted(only - set(qs))
    assert not unknown, f"--only names not declared: {unknown}"
    qs = {k: v for k, v in qs.items() if k in only}
ok = bad = 0
report: dict[str, dict] = {}
for name in sorted(qs):
    if name not in oracles:
        cnt = qs[name](spark, SF).count()
        print(f"  (rows-only) {name}: {cnt} rows", flush=True)
        report[name] = {"rows_match": None, "schema_match": None,
                        "hash_match": None, "spark_rows": cnt,
                        "oracle_rows": None, "err": None}
        continue
    # Retry policy (r11 verdict #2): a row that RAISES gets exactly one
    # retry, and BOTH attempts land in the artifact (err_attempt1 +
    # flaky=true on a pass-after-retry), so a transient streaming error
    # is distinguishable from a persistent one instead of either hiding
    # the flake or recording a dead row for a gate that re-passes.
    # MISMATCHES are never retried — a wrong answer is deterministic
    # evidence, not a flake.
    err_attempt1 = None
    r = None
    for attempt in (1, 2):
        try:
            r = diff(qs[name](spark, SF), con, oracles[name])
            break
        except Exception as exc:  # crashing gate = failure, recorded not hidden
            msg = f"{type(exc).__name__}: {exc}"[:500]
            if attempt == 1:
                err_attempt1 = msg
                print(f"  ERR {name} (attempt 1, retrying): {msg}", flush=True)
                continue
            bad += 1
            print(f"  ERR {name} (attempt 2, persistent): {msg}", flush=True)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": msg,
                            "err_attempt1": err_attempt1, "attempts": 2}
    if r is None:
        continue
    status = "OK" if r["hash_match"] else "MISMATCH"
    if status == "OK": ok += 1
    else:
        bad += 1
        print(f"  {status} {name}: cols {r['schema_match']} rows {r['spark_rows']}/{r['oracle_rows']}")
        for _, a, b in r["mismatches"][:3]:
            print("    spark:", a, "\n    duck :", b)
    print(f"  {name}: {status} ({r['spark_rows']} rows)", flush=True)
    report[name] = {k: r[k] for k in ("rows_match", "schema_match",
                                      "hash_match", "spark_rows",
                                      "oracle_rows")}
    report[name]["err"] = None
    if err_attempt1:
        report[name].update(err_attempt1=err_attempt1, attempts=2, flaky=True)
flaky = sorted(n for n, r in report.items() if r.get("flaky"))
rows_only_n = sum(1 for n in qs if n not in oracles)
print(f"RESULT: {ok} ok, {bad} mismatched, {rows_only_n} rows-only"
      + (f", {len(flaky)} flaky (passed on retry: {flaky})" if flaky else ""))
if json_out:
    with open(json_out, "w") as f:
        json.dump({"sf_dir": SF, "timezone": argv[0] if argv else "UTC",
                   "ok": ok, "mismatched": bad,
                   "rows_only": rows_only_n,
                   "flaky": flaky, "retry_policy":
                       "errored rows retried once; both attempts recorded; "
                       "mismatches never retried",
                   "queries": report}, f, indent=1, sort_keys=True)
    print(f"wrote {json_out}")
spark.stop()
sys.exit(1 if bad else 0)
