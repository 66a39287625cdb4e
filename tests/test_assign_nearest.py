"""Focused pins for the r13-optimization rewrite of IVF nearest-centroid
assignment (_assign_nearest): the row-local argmin must reproduce the
window formulation's rnk == 1 slice bit-for-bit — including the
(d2, centroid_id) tie-break — and its plan must carry NO window exchange
(removing the n x C shuffle is the entire point of the rewrite)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _emb(spark, sf_dir):
    from spark_streaming_dis_plugin_spark.tables import load

    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"))


def test_assign_nearest_matches_window_rank1(spark, sf_dir):
    from spark_streaming_dis_plugin_spark.operators.similarity import (
        N_CENTROIDS, _assign_nearest, _rank_to_centroids)

    emb = _emb(spark, sf_dir)
    cent = (emb.where(F.col("vec_id") < N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("e").alias("ce")))
    via_window = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in (_rank_to_centroids(emb, cent).where(F.col("rnk") == 1)
                  .select("vec_id", "centroid_id").collect()))
    via_argmin = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in (_assign_nearest(emb, cent)
                  .select("vec_id", "centroid_id").collect()))
    assert via_argmin == via_window
    assert len(via_argmin) == emb.count()


def test_assign_nearest_tie_breaks_on_centroid_id(spark):
    """Two equidistant centroids: the SMALLER centroid_id must win —
    array_min's struct ordering (d2 first, then centroid_id) has to
    reproduce the window's deterministic orderBy('d2', 'centroid_id')."""
    from spark_streaming_dis_plugin_spark.operators.similarity import (
        _assign_nearest)

    emb = spark.createDataFrame(
        [(100, [0.0, 0.0])], "vec_id long, e array<double>")
    cent = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [-1.0, 0.0]), (9, [0.0, 2.0])],
        "centroid_id long, ce array<double>")
    rows = _assign_nearest(emb, cent).collect()
    assert len(rows) == 1 and rows[0]["centroid_id"] == 3


def test_assign_nearest_plan_has_no_window_exchange(spark, sf_dir):
    """The rewrite's contract: assignment is row-local against a one-row
    broadcast centroid array — no Window operator and no hash Exchange of
    the n x C ranked relation anywhere in the assignment plan."""
    from spark_streaming_dis_plugin_spark.operators.similarity import (
        N_CENTROIDS, _assign_nearest)

    emb = _emb(spark, sf_dir)
    cent = (emb.where(F.col("vec_id") < N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("e").alias("ce")))
    plan = _assign_nearest(emb, cent)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_adc_top3_drops_candidates_with_a_missing_code(spark):
    """A PQ code with no LUT entry scores a null ADC distance, which
    would sort FIRST in the top-k window; the ranking drops such a
    candidate, as the former per-subspace inner joins did."""
    from spark_streaming_dis_plugin_spark.operators.similarity import (
        PQ_K, PQ_M, _adc_top3)

    # code c contributes distance c in every subspace: d(codes) = sum
    lut = F.create_map(*[x for c in range(PQ_K) for x in (
        F.lit(c), F.struct(*[F.lit(float(c)).alias(f"d{m}")
                             for m in range(PQ_M)]))])
    codes = {10: [0, 0, 0, PQ_K + 5],   # missing code: otherwise the best
             11: [1, 1, 1, 1], 12: [0, 1, 0, 1], 13: [2, 2, 2, 2],
             14: [3, 3, 3, 3]}
    scored = (spark.createDataFrame(
        [(0, v, *cs) for v, cs in codes.items()],
        ["query_id", "vec_id"] + [f"c{m}" for m in range(PQ_M)])
        .withColumn("lut", lut))
    got = [(r["neighbor_id"], r["adc_d2"], r["rnk"])
           for r in _adc_top3(scored).orderBy("rnk").collect()]
    assert got == [(12, 2.0, 1), (11, 4.0, 2), (13, 8.0, 3)]


def test_empty_centroid_set_assigns_no_rows(spark):
    """An empty centroid set assigns nothing. collect_list over no rows is
    ONE row holding an empty array; cross-joined as is, it would give
    every corpus row a null centroid_id."""
    from spark_streaming_dis_plugin_spark.operators.similarity import (
        _assign_nearest)

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0])], "vec_id long, e array<double>")
    cent = spark.createDataFrame([], "centroid_id long, ce array<double>")
    assert _assign_nearest(emb, cent).collect() == []
