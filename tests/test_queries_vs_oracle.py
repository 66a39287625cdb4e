"""Differential test: every registered query with an oracle must match
DuckDB exactly at sf0.001 — the local twin of the driver's CORRECTNESS
gate (which runs at sf0.01)."""

from __future__ import annotations

from decimal import Decimal

import pytest

from spark_streaming_dis_plugin_spark.plans.registry import all_queries

from .oracle import compare, duck_connection

QUERIES = all_queries()
ORACLE_NAMES = sorted(n for n, s in QUERIES.items() if s.oracle)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, con, name):
    spec = QUERIES[name]
    df = spec.fn(spark, sf_dir)
    compare(df, con, spec.oracle)


def test_every_query_returns_rows(spark, sf_dir):
    """Queries without an oracle still must run and be non-degenerate."""
    for name, spec in QUERIES.items():
        if spec.oracle:
            continue
        df = spec.fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"word", "n"}


def test_contract_shape():
    import __spark_entry__ as e
    qs, os_ = e.queries(), e.oracle_sql()
    # Every DECLARED query carries an oracle: the driver can never record
    # an err/no_oracle row again (undeclared bench/pytest-only variants
    # like dedup_minhash_lsh_fast stay out of queries() entirely).
    assert set(os_) == set(qs)
    assert len(qs) >= 10
    assert "dedup_minhash_lsh_fast" not in qs
    # r13: the fast twins left the bench set (headline byte budget —
    # BENCH_NOTES Round 13) but must stay registered and parity-gated:
    # the parity test below is now their only execution gate.
    assert not QUERIES["dedup_minhash_lsh_fast"].bench
    assert not QUERIES["dedup_minhash_lsh_fast"].declared


def test_simhash64_banding_is_lossless(spark, sf_dir):
    """The production 64-bit SimHash's algorithmic claim: 4 x 16-bit
    pigeonhole bands surface EVERY pair within hamming <= 3 (a pair
    differing in <= 3 bits must agree exactly on >= 1 of 4 bands), so the
    banded pipeline equals brute-force all-pairs hamming over the same
    signatures. (The pair set legitimately differs from MinHash-Jaccard
    pairs — SimHash thresholds angular distance of term-frequency
    vectors, not shingle-set Jaccard.)"""
    from pyspark.sql import functions as F

    from spark_streaming_dis_plugin_spark.operators.dedup import (
        HAMMING64_MAX, dedup_simhash64_pairs, simhash64_signatures,
    )

    banded = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_simhash64_pairs(spark, sf_dir).collect())
    sig = simhash64_signatures(spark, sf_dir)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    brute = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in (a.join(b, F.col("doc_a") < F.col("doc_b"))
                  .where(ham <= HAMMING64_MAX)
                  .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
                  .collect()))
    assert banded == brute
    assert len(banded) > 0     # non-degenerate: the fixture has near-dups


def test_ngram_jaccard_fast_matches_portable_pairs(spark, sf_dir):
    """The xxhash64-posting-key Jaccard variant must produce the same
    verified pairs AND the same jaccard values as the portable string-key
    pipeline — hashing only re-keys the posting join; a difference would
    mean a 64-bit collision merged two shingles."""
    fast = QUERIES["dedup_ngram_jaccard_fast"].fn(spark, sf_dir)
    slow = QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir)
    key = lambda r: (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
    assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))


def test_lsh_fast_matches_portable_pairs(spark, sf_dir):
    """The xxhash64 LSH variant must verify the same near-dup pairs as the
    oracle-portable md5 pipeline: the hash family only selects CANDIDATES,
    and exact-Jaccard verification filters both candidate sets to the
    same >= threshold pairs (modulo pairs the bands never surface; on this
    fixture both surface all of them)."""
    fast = QUERIES["dedup_minhash_lsh_fast"].fn(spark, sf_dir)
    slow = QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
    key = lambda r: (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
    assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))


class _Rows:
    """A collected result with the ``columns`` / ``collect()`` surface the
    comparator reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = [dict(zip(columns, r)) for r in rows]

    def collect(self):
        return self._rows


@pytest.mark.parametrize("spark_rows,sql", [
    ([(999,)], "SELECT 999.0::DOUBLE AS v"),
    ([(Decimal("1"),)], "SELECT 1.0::DOUBLE AS v"),
    ([(None,)], "SELECT 'None' AS v"),
    ([(1,), (1,)], "SELECT 1::BIGINT AS v"),
])
def test_comparator_is_type_strict(spark_rows, sql):
    """The comparator every oracle check shares (tests, query_mix,
    tools/drive_contract.py): a BIGINT is not a DOUBLE, a DECIMAL is
    not a DOUBLE, a null is not the string 'None', and a row-count
    difference is a mismatch."""
    import duckdb

    from .oracle import diff

    con = duckdb.connect()
    r = diff(_Rows(["v"], spark_rows), con, sql)
    assert r["schema_match"] and not r["hash_match"]
    assert r["rows_match"] == (len(spark_rows) == 1)
    with pytest.raises(AssertionError):
        compare(_Rows(["v"], spark_rows), con, sql)
    # the same value on both sides matches
    assert diff(_Rows(["v"], [(1,)]), con, "SELECT 1::BIGINT AS v")[
        "hash_match"]
