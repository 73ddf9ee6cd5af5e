"""The shared run-to-convergence kernel (operators/dedup.py:fixpoint) and
its callers: every one of them raises, naming itself, when its round cap
is spent before the probe settles, instead of returning a non-fixpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.dedup import (
    fixpoint,
    kcore_fixpoint,
    min_label_components,
    star_components,
)
from jaffle_shop_classic_spark.operators.mining import minplus_fixpoint


@pytest.fixture(scope="module")
def path_pairs(spark):
    """A 64-node path 0-1-...-63 as (doc_a < doc_b) pairs: diameter 63,
    the adversarial shape for every diameter-bound fixpoint."""
    return spark.range(63).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )


@pytest.fixture(scope="module")
def path_edges(path_pairs):
    return path_pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        path_pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )


def test_fixpoint_raises_naming_the_operator_when_step_never_settles(spark):
    counter = spark.range(1)
    with pytest.raises(RuntimeError, match="planted_counter did not converge in 3 rounds"):
        fixpoint(
            counter,
            lambda s: s.select((F.col("id") + 1).alias("id")),
            [F.sum("id")],
            max_rounds=3,
            name="planted_counter",
        )


def test_fixpoint_counts_the_confirming_round(spark):
    # min(id, 2) settles after one changing round; the second confirms
    state, rounds = fixpoint(
        spark.range(5),
        lambda s: s.select(F.least(F.col("id"), F.lit(2)).alias("id")),
        [F.count(F.lit(1)), F.sum("id")],
        max_rounds=2,
        name="planted_clamp",
    )
    assert rounds == 2
    assert sorted(r["id"] for r in state.collect()) == [0, 1, 2, 2, 2]


def test_min_label_components_raises_on_deep_path(path_edges):
    with pytest.raises(RuntimeError, match="min_label_components did not converge"):
        min_label_components(path_edges, "doc_id", max_rounds=4)


def test_star_components_raises_on_one_alternation(path_pairs):
    with pytest.raises(RuntimeError, match="star_components did not converge in 1 rounds"):
        star_components(path_pairs, max_iters=1)


def test_kcore_fixpoint_raises_when_peel_outlasts_cap(path_edges):
    # a path peels one vertex from each end per round: 32 rounds to empty
    with pytest.raises(RuntimeError, match="kcore_fixpoint did not converge in 2 rounds"):
        kcore_fixpoint(path_edges, k=2, max_rounds=2)


def test_minplus_fixpoint_raises_on_deep_path(path_edges):
    weighted = path_edges.selectExpr("src AS s", "dst AS t", "CAST(1 AS BIGINT) AS w")
    with pytest.raises(RuntimeError, match="minplus_fixpoint did not converge in 4 rounds"):
        minplus_fixpoint(weighted, max_rounds=4)
    # the default cap (oracle unroll + 1) rejects it too: depth 63 > 10
    with pytest.raises(RuntimeError, match="minplus_fixpoint did not converge"):
        minplus_fixpoint(weighted)
