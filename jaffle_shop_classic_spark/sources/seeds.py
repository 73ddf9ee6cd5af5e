"""Seed loader — the `dbt seed` analog (SURVEY §3.1).

Reads headered CSVs with pinned schemas and materializes them as
Parquet-backed tables (columnar from the first hop; at scale the CSV ->
Parquet rewrite is the shuffle-free parallel ingest path), then
registers temp views so downstream models resolve them by name. The
seeds are independent, so their loads run as concurrent Spark jobs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import SEED_SCHEMAS
from ..session import run_concurrently

# The reference project's seed CSVs (read-only); override per-project.
DEFAULT_SEED_DIR = os.environ.get("JAFFLE_SEED_DIR", "/root/reference/seeds")


def load_seed(
    spark: SparkSession,
    name: str,
    seed_dir: str = DEFAULT_SEED_DIR,
    warehouse_dir: str | None = None,
) -> DataFrame:
    schema = SEED_SCHEMAS[name]
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "FAILFAST")  # bad rows are load errors, not silent NULLs
        .csv(f"{seed_dir}/{name}.csv")
    )
    if warehouse_dir is not None:
        path = f"{warehouse_dir}/{name}"
        df.write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
    df.createOrReplaceTempView(name)
    return df


def load_seeds(
    spark: SparkSession,
    seed_dir: str = DEFAULT_SEED_DIR,
    warehouse_dir: str | None = None,
) -> dict[str, DataFrame]:
    dfs = run_concurrently(
        spark, lambda name: load_seed(spark, name, seed_dir, warehouse_dir), SEED_SCHEMAS
    )
    return dict(zip(SEED_SCHEMAS, dfs))
