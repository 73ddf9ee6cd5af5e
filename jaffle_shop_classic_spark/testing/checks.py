"""Declarative data-quality checks — the reference's test surface.

The reference declares 20 test instances of 4 kinds in YAML
(/root/reference/models/schema.yml, models/staging/schema.yml); dbt
compiles each into a query whose result must be empty. Here each kind
is a function DataFrame -> DataFrame of *violating rows*; a check
passes iff the violation frame is empty (SURVEY §2.3 T1-T4).

All four compile to single-shuffle (or shuffle-free) plans:
  unique            -> hash aggregate on the column, HAVING count>1
  not_null          -> scan-level filter (pushed into parquet scan)
  accepted_values   -> scan-level filter
  relationships     -> LEFT ANTI equi-join (broadcast when parent small)
so they run at data scale, not driver scale.

At the reference's size each check is a small job bound by per-job
latency (planning, scheduling, result fetch) rather than by the cores,
so ``run_checks`` submits all checks together as concurrent Spark jobs.
Each check still runs its own ``limit(k+1)`` collect, plus a ``count()``
only when the sample overflows; results keep the input order.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import run_concurrently


def unique(df: DataFrame, column: str) -> DataFrame:
    """Violations of `unique`: values occurring more than once (NULLs ignored).

    Mirrors dbt's built-in unique test (declared e.g. at
    /root/reference/models/schema.yml:11).
    """
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def not_null(df: DataFrame, column: str) -> DataFrame:
    """Violations of `not_null`: rows where the column is NULL
    (/root/reference/models/schema.yml:12)."""
    return df.filter(F.col(column).isNull())


def accepted_values(df: DataFrame, column: str, values: Sequence[str]) -> DataFrame:
    """Violations of `accepted_values`: non-NULL values outside the list
    (/root/reference/models/schema.yml:55-57)."""
    return df.filter(F.col(column).isNotNull() & ~F.col(column).isin(list(values)))


def relationships(
    child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """Violations of `relationships`: non-NULL FK values with no matching
    parent PK (/root/reference/models/schema.yml:46-48). LEFT ANTI join —
    Spark broadcasts the parent side when it is small."""
    parent_keys = parent.select(F.col(pk).alias("__pk")).dropDuplicates(["__pk"])
    filtered = child.filter(F.col(fk).isNotNull())
    # QUALIFIED references: an unqualified __pk would turn ambiguous if
    # the child itself carries a column of that name
    return filtered.join(
        parent_keys, filtered[fk] == parent_keys["__pk"], "left_anti"
    )


# -- dbt-utils-style extensions (beyond the reference's 4 built-ins) -----
# Same contract: DataFrame -> violating rows, empty == pass; same scale
# posture (scan-level filters or one keys-only aggregate).


def accepted_range(
    df: DataFrame,
    column: str,
    min_value=None,
    max_value=None,
    inclusive: bool = True,
) -> DataFrame:
    """dbt_utils.accepted_range: non-NULL values outside [min, max].
    Scan-level filter — both bounds push into the parquet scan."""
    col = F.col(column)
    bad = F.lit(False)
    if min_value is not None:
        bad = bad | (col < min_value if inclusive else col <= min_value)
    if max_value is not None:
        bad = bad | (col > max_value if inclusive else col >= max_value)
    return df.filter(col.isNotNull() & bad)


def unique_combination(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """dbt_utils.unique_combination_of_columns: duplicated composite keys.
    One hash aggregate over the key columns only (values never shuffle)."""
    return (
        df.groupBy(*[F.col(c) for c in columns])
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def expression_is_true(df: DataFrame, expression: str) -> DataFrame:
    """dbt_utils.expression_is_true: rows where a SQL boolean expression
    is false or NULL (NULL counts as a violation — an unknown invariant
    is a broken invariant). Scan-level filter."""
    return df.filter(~F.coalesce(F.expr(expression), F.lit(False)))


def row_count_between(df: DataFrame, min_rows: int = 0, max_rows: int | None = None) -> DataFrame:
    """dbt_utils-style recency/volume gate: a 1-row violation frame when
    the table's row count is outside [min_rows, max_rows]. The count is
    a keys-free aggregate (partial counts merge, nothing shuffles but
    one long per partition)."""
    counted = df.groupBy().agg(F.count(F.lit(1)).alias("n_rows"))
    bad = F.col("n_rows") < min_rows
    if max_rows is not None:
        bad = bad | (F.col("n_rows") > max_rows)
    return counted.filter(bad)


@dataclass
class CheckResult:
    name: str
    passed: bool
    n_violations: int
    sample: list = field(default_factory=list)

    def __str__(self) -> str:
        status = "PASS" if self.passed else f"FAIL ({self.n_violations} rows)"
        return f"{self.name}: {status}"


def _check(name: str, viol: DataFrame, sample_rows: int) -> CheckResult:
    rows = viol.limit(sample_rows + 1).collect()
    if not rows:
        return CheckResult(name, True, 0)
    # the sample already proves the exact count unless it overflowed —
    # only then re-run the plan for the total
    n = len(rows) if len(rows) <= sample_rows else viol.count()
    return CheckResult(name, False, n, [r.asDict() for r in rows[:sample_rows]])


def run_checks(checks: dict[str, DataFrame], sample_rows: int = 5) -> list[CheckResult]:
    """Evaluate named violation frames; report violating rows on failure
    (the `dbt test --store-failures` behavior). The checks run as
    concurrent Spark jobs; results are in the order of ``checks``."""
    if not checks:
        return []
    spark = next(iter(checks.values())).sparkSession
    return run_concurrently(
        spark, lambda item: _check(*item, sample_rows), checks.items()
    )
