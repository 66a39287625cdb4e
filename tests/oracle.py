"""Local differential harness: run a registered query in Spark AND its
DuckDB oracle, compare row count, column names, and values — the same
contract the driver's CORRECTNESS gate applies, so failures surface here
first.
"""

from __future__ import annotations

import math
import os

import duckdb

from spark_streaming_dis_plugin_spark.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    """Normalize a cell for order-insensitive comparison.

    Type-strict on int-vs-float (a 999 BIGINT != 999.0 DOUBLE): the
    driver's value-hash stringifies, so `999` and `999.0` mismatch there —
    this harness must catch it locally."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "nan")
        return ("float", repr(v))
    if isinstance(v, int):
        return ("int", v)
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        # Type-strict: the driver's stringify-hash distinguishes
        # Decimal('999') from int 999 (how the r2 split/pack failures
        # escaped the local gate) — never coerce Decimal to float here.
        return ("dec", str(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("dt", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def diff(spark_df, con, sql: str, float_exact: bool = True) -> dict:
    """Compare a Spark result with its DuckDB oracle without asserting.

    Returns ``schema_match`` (same lower-cased column names),
    ``rows_match`` (same row count), ``hash_match`` (all three checks,
    rows compared as sorted multisets of :func:`_norm` cells), the two
    row counts and column lists, and up to 5 ``mismatches`` as
    ``(index, spark_row, duck_row)``."""
    duck = con.sql(sql)
    duck_cols = [c.lower() for c in duck.columns]
    spark_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(_norm(r[c]) for c in sorted(spark_df.columns,
                                                key=str.lower))
              for r in spark_df.collect()]
    order = [duck_cols.index(c) for c in sorted(duck_cols)]
    d_rows = [tuple(_norm(r[i]) for i in order) for r in duck.fetchall()]

    key = lambda t: tuple((x is None, str(type(x)), str(x)) for x in t)  # noqa: E731
    mismatches = []
    for i, (s, d) in enumerate(zip(sorted(s_rows, key=key),
                                   sorted(d_rows, key=key))):
        if s != d and not _rows_close(s, d, float_exact):
            mismatches.append((i, s, d))
            if len(mismatches) >= 5:
                break
    schema_match = sorted(duck_cols) == sorted(spark_cols)
    rows_match = len(s_rows) == len(d_rows)
    return {"schema_match": schema_match, "rows_match": rows_match,
            "hash_match": schema_match and rows_match and not mismatches,
            "spark_rows": len(s_rows), "oracle_rows": len(d_rows),
            "spark_cols": sorted(spark_cols), "duck_cols": sorted(duck_cols),
            "mismatches": mismatches}


def compare(spark_df, con, sql: str, float_exact: bool = True):
    """Assert Spark result == DuckDB result (sorted columns + rows)."""
    r = diff(spark_df, con, sql, float_exact)
    assert r["schema_match"], (
        f"column mismatch: spark={r['spark_cols']} duck={r['duck_cols']}")
    assert r["rows_match"], (
        f"row count mismatch: spark={r['spark_rows']} "
        f"duck={r['oracle_rows']}")
    assert not r["mismatches"], (
        f"value mismatches (spark vs duck): {r['mismatches']}")


def _rows_close(s, d, float_exact: bool) -> bool:
    if len(s) != len(d):
        return False
    for a, b in zip(s, d):
        if a == b:
            continue
        if (not float_exact
                and isinstance(a, tuple) and isinstance(b, tuple)
                and len(a) == 2 and a[0] == "float" and b[0] == "float"
                and math.isclose(float(a[1]), float(b[1]),
                                 rel_tol=1e-9, abs_tol=1e-9)):
            continue
        return False
    return True
