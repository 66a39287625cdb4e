"""How close the generated ``query_mix`` tables are to the project's fixtures.

    python3 perfbench/fidelity.py --fixtures DIR [--seed 1] [--scale 0.01]
                                  [--costs] [--cores 2]

``DIR`` holds the fixture parquet files at the scale given by ``--scale``
(for instance the sf0.01 set). The tool generates the benchmark's tables
from ``--seed`` at that scale and prints, for both:

- row counts of every table;
- the document statistics the dedup, BM25 and n-gram operators' cost
  depends on: words per document, distinct terms, near- and exact-duplicate
  shares, distinct word 3-shingles, posting rows, the share of shingles
  above the n-gram operator's document-frequency cap, MinHash LSH candidate
  pairs and verified pairs, and the capped n-gram operator's pairs;
- every column whose distinct count, minimum, maximum or mean differs by
  more than 15% between the two.

With ``--costs`` it also runs each query of the mix on both sets in Spark,
alternating between the sets (one warm-up pass over both, then the median
of four executions), and prints the times and their ranking. The
benchmark itself never needs the fixtures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import common, datagen  # noqa: E402

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT", "DOUBLE",
           "TIMESTAMP")


def document_stats(con) -> dict:
    from spark_streaming_dis_plugin_spark.functions.portable import tokens_sql
    from spark_streaming_dis_plugin_spark.operators.dedup import (
        _LSH_PAIRS_ORACLE,
        DF_CAP,
        _shingle_sets_sql,
    )
    from spark_streaming_dis_plugin_spark.plans.registry import all_queries

    def one(sql: str):
        return con.sql(sql).fetchone()

    n = one("SELECT count(*) FROM documents")[0]
    p10, p50, p90 = one(f"""
        SELECT quantile_cont(k, 0.1), quantile_cont(k, 0.5),
               quantile_cont(k, 0.9)
        FROM (SELECT len({tokens_sql('text')}) AS k FROM documents)""")
    terms = one(f"""SELECT count(DISTINCT t) FROM
        (SELECT unnest({tokens_sql('text')}) AS t FROM documents)""")[0]
    exact = one("SELECT count(*) - count(DISTINCT text) FROM documents")[0]
    shingles, postings, above_cap = one(f"""
        WITH sets AS ({_shingle_sets_sql()}),
        posting AS (SELECT doc_id, unnest(sh) AS s FROM sets),
        df AS (SELECT s, count(*) AS df FROM posting GROUP BY s)
        SELECT count(*), sum(df), count(*) FILTER (WHERE df > {DF_CAP})
        FROM df""")
    cand_sql = _LSH_PAIRS_ORACLE.split("sets AS (")[0].rstrip().rstrip(",")
    candidates = one(f"{cand_sql} SELECT count(*) FROM cand")[0]
    lsh_pairs = one(f"SELECT count(*) FROM ({_LSH_PAIRS_ORACLE})")[0]
    specs = all_queries()
    ngram_pairs = one("SELECT count(*) FROM ("
                      f"{specs['dedup_ngram_jaccard_capped'].oracle})")[0]
    near = one(f"""SELECT count(DISTINCT doc_b) FROM
        ({_LSH_PAIRS_ORACLE})""")[0]
    return {"documents": n, "words_per_doc_p10": p10,
            "words_per_doc_p50": p50, "words_per_doc_p90": p90,
            "distinct_terms": terms,
            "near_dup_share": round(near / n, 4),
            "exact_dup_share": round(exact / n, 4),
            "distinct_shingles": shingles, "posting_rows": int(postings),
            "shingles_above_df_cap_share": round(above_cap / shingles, 4),
            "lsh_candidate_pairs": candidates, "lsh_pairs": lsh_pairs,
            "ngram_capped_pairs": ngram_pairs}


def column_stats(con) -> dict[str, dict[str, float]]:
    from spark_streaming_dis_plugin_spark.tables import TABLES

    out = {}
    for t in TABLES:
        for col, typ, *_ in con.sql(f"DESCRIBE {t}").fetchall():
            if typ.startswith(("FLOAT[", "LIST")) or typ.endswith("[]"):
                continue
            exprs = [f'count(DISTINCT "{col}")']
            if typ in NUMERIC:
                v = (f'epoch("{col}")' if typ == "TIMESTAMP"
                     else f'CAST("{col}" AS DOUBLE)')
                exprs += [f"min({v})", f"max({v})", f"avg({v})"]
            row = con.sql(f"SELECT {', '.join(exprs)} FROM {t}").fetchone()
            names = ("distinct", "min", "max", "mean")
            out[f"{t}.{col}"] = dict(zip(names, (float(x) for x in row)))
    return out


def differing(gen: dict, fix: dict, tol: float = 0.15) -> list[str]:
    lines = []
    for key in sorted(fix):
        for stat, f in fix[key].items():
            g = gen.get(key, {}).get(stat)
            if g is None:
                lines.append(f"{key} {stat}: missing in generated tables")
            elif abs(g - f) > tol * max(abs(f), 1.0):
                lines.append(f"{key} {stat}: generated {g:.6g}, fixture {f:.6g}")
    return lines


def query_costs(dirs: dict[str, str], cores: int, work: str) -> dict:
    from .query_mix import QUERIES

    ctx = common.Ctx(workload="fidelity", seed=0, seconds=0, trace=False,
                     cores=cores, scale=0, work=work)
    spark = common.start_session(ctx)
    try:
        from spark_streaming_dis_plugin_spark.plans.registry import all_queries

        specs = all_queries()
        ms: dict = {label: {q: [] for q in QUERIES} for label in dirs}
        for rep in range(5):              # rep 0 warms the JVM on both sets
            for q in QUERIES:
                # the second of two like plans reuses the first's generated
                # code, so the sets take turns going first
                for label, d in list(dirs.items())[::1 if rep % 2 else -1]:
                    spark.catalog.clearCache()
                    with ctx.tracer.span("q") as sp:
                        specs[q].fn(spark, d).collect()
                    if rep:
                        ms[label][q].append(sp.seconds * 1e3)
        out = {}
        for label, per_q in ms.items():
            times = {q: round(common.median(v), 1) for q, v in per_q.items()}
            out[label] = {"median_ms": times,
                          "ranking": sorted(times, key=times.get)}
        return out
    finally:
        common.stop_session(ctx)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--fixtures", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--scale", type=float, default=0.01)
    p.add_argument("--costs", action="store_true")
    p.add_argument("--cores", type=int, default=2)
    args = p.parse_args(argv)
    os.makedirs(common.STATE_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=common.STATE_DIR) as work:
        common.prepare_environment(work)
        from tests.oracle import duck_connection

        gen_dir = os.path.join(work, "tables")
        rows = datagen.make_tables(gen_dir, args.seed, args.scale)
        report: dict = {"seed": args.seed, "scale": args.scale, "rows": {}}
        cols = {}
        for label, d in (("generated", gen_dir), ("fixture", args.fixtures)):
            con = duck_connection(d)
            try:
                report["rows"][label] = {
                    t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
                    for t in rows}
                report.setdefault("documents", {})[label] = document_stats(con)
                cols[label] = column_stats(con)
            finally:
                con.close()
        report["columns_differing"] = differing(cols["generated"],
                                                cols["fixture"])
        if args.costs:
            report["costs"] = query_costs(
                {"generated": gen_dir, "fixture": args.fixtures},
                args.cores, work)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
