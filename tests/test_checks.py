"""Negative fixtures for the 4 check kinds: each must detect injected
violations (FIXTURES.md §A edge-case 6)."""

from __future__ import annotations

from jaffle_shop_classic_spark.testing import checks


def test_unique_detects_duplicates(spark):
    df = spark.createDataFrame([(1,), (2,), (2,), (3,), (None,), (None,)], ["id"])
    viol = checks.unique(df, "id").collect()
    # NULLs are ignored by dbt's unique test
    assert [(r["value"], r["n_rows"]) for r in viol] == [(2, 2)]


def test_not_null_detects_nulls(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b")], ["id", "x"])
    assert checks.not_null(df, "id").count() == 1
    assert checks.not_null(df, "x").count() == 0


def test_accepted_values(spark):
    df = spark.createDataFrame([("placed",), ("shipped",), ("bogus",), (None,)], ["status"])
    viol = checks.accepted_values(df, "status", ["placed", "shipped"]).collect()
    assert [r["status"] for r in viol] == ["bogus"]


def test_relationships(spark):
    child = spark.createDataFrame([(1, 10), (2, 20), (3, 99), (4, None)], ["id", "fk"])
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    viol = checks.relationships(child, "fk", parent, "pk").collect()
    # NULL FKs are not violations; 99 is
    assert [r["id"] for r in viol] == [3]


def test_run_checks_reports_samples(spark):
    df = spark.createDataFrame([(1,), (1,)], ["id"])
    results = checks.run_checks({"u": checks.unique(df, "id")})
    assert not results[0].passed
    assert results[0].n_violations == 1
    assert results[0].sample[0]["value"] == 1

    # several checks run together: results keep input order and each
    # carries the exact count, through the count() path on overflow
    ids = spark.createDataFrame([(i,) for i in range(10)] + [(None,)] * 8, "id: int")
    results = checks.run_checks(
        {
            "many_nulls": checks.not_null(ids, "id"),  # 8 > sample_rows
            "passes": checks.unique(ids, "id"),
            "few_out_of_range": checks.accepted_range(ids, "id", 0, 7),  # 2 rows
            "no_rows_at_all": checks.accepted_values(ids, "id", []).limit(0),
        },
        sample_rows=3,
    )
    got = [(r.name, r.passed, r.n_violations, r.sample) for r in results]
    assert got[0] == ("many_nulls", False, 8, [{"id": None}] * 3)
    assert got[1] == ("passes", True, 0, [])
    assert got[2][:3] == ("few_out_of_range", False, 2)
    assert sorted(row["id"] for row in got[2][3]) == [8, 9]
    assert got[3] == ("no_rows_at_all", True, 0, [])
    assert checks.run_checks({}) == []


# ------------------------------------------------- dbt-utils-style checks
def test_accepted_range(spark):
    df = spark.createDataFrame([(1,), (5,), (10,), (None,)], "v: int")
    assert {r["v"] for r in checks.accepted_range(df, "v", 2, 9).collect()} == {1, 10}
    # exclusive bounds flag the boundary values too
    assert {r["v"] for r in checks.accepted_range(df, "v", 1, 10, inclusive=False).collect()} == {1, 10}
    # one-sided
    assert {r["v"] for r in checks.accepted_range(df, "v", min_value=5).collect()} == {1}
    assert checks.accepted_range(df, "v").count() == 0  # no bounds, no violations


def test_unique_combination(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a"), (2, "a")], "k: int, s: string"
    )
    viol = checks.unique_combination(df, ["k", "s"]).collect()
    assert [(r["k"], r["s"], r["n_rows"]) for r in viol] == [(1, "a", 2)]


def test_expression_is_true(spark):
    df = spark.createDataFrame([(1, 2), (5, 3), (None, 1)], "a: int, b: int")
    # NULL result counts as a violation: unknown invariant == broken
    viol = checks.expression_is_true(df, "a < b").collect()
    assert sorted([(r["a"], r["b"]) for r in viol], key=str) == sorted(
        [(5, 3), (None, 1)], key=str
    )


def test_row_count_between(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "v: int")
    assert checks.row_count_between(df, 1, 10).count() == 0
    assert checks.row_count_between(df, 6).count() == 1
    assert checks.row_count_between(df, 0, 4).count() == 1
