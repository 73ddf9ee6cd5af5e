"""The benchmark's workloads: what one pass runs and how its outputs are
checked. Every call into the program goes through its public entry
points (``session.get_spark``, ``operators.catalog.load_catalog``, the
jaffle project API and ``tools/parity.py``'s ``compare``).

A workload yields *operations*. Each operation has a timed part, which
returns an output, and an untimed check of that output, which also
times the operation's DuckDB twin.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb

import gen
from tracing import Tracer

# Op lists are fixed once in workloads.json, next to why each was chosen.
SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")

STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    twin_s: float = 0.0
    error: str = ""
    layers: dict = field(default_factory=dict)  # span name -> seconds
    group: str = ""  # job group of the timed execution
    output: object = None  # what the timed part produced, for the check


class Collected:
    """Rows collected in the timed region, shaped like the DataFrame side
    of ``tools.parity.compare`` so the check sees exactly those rows."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


class Hooks:
    """Tracing hooks; the untraced run uses this no-op base."""

    def before_op(self, group: str) -> None:
        pass

    def after_action(self, df) -> dict:
        return {}

    def after_op(self, group: str) -> None:
        pass


def _now() -> float:
    return time.perf_counter()


def twin_seconds(first: float, fn, repeats: int = 4, budget: float = 1.0) -> float:
    """Median wall time of a DuckDB twin: its first (checking) run plus up
    to ``repeats`` timing-only repeats while they fit in ``budget``
    seconds, since one sample of a millisecond query is mostly host
    noise while a twin of seconds needs no repeat."""
    times = [first]
    while len(times) <= repeats and sum(times) + times[-1] <= budget:
        t0 = _now()
        fn()
        times.append(_now() - t0)
    return statistics.median(times)


# -- catalog workloads --------------------------------------------------


class CatalogWorkload:
    """Runs catalog entries: ``spec.fn(spark, sf_dir)`` then the action,
    with the entry's DuckDB twin interleaved in the untimed check."""

    def __init__(self, names: tuple[str, ...], sf: float):
        self.names, self.sf = names, sf
        self.row_counts: dict[str, int] = {}  # twin-less entry -> first row count

    def prepare(self, work: str, seed: int) -> dict:
        sf_dir = os.path.join(work, "star")
        nbytes = gen.star_schema(sf_dir, seed, self.sf)
        self.attach(sf_dir)
        return {"input_bytes": nbytes}

    def attach(self, sf_dir: str) -> None:
        """Read the star tables in ``sf_dir``, from Spark and DuckDB."""
        self.sf_dir = sf_dir
        self.row_counts.clear()
        self.con = duckdb.connect()
        for t in STAR_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")

    def ops(self, seed: int) -> list[str]:
        order = list(self.names)
        random.Random(seed).shuffle(order)
        return order

    def run_op(self, spark, catalog, name: str, hooks: Hooks) -> OpResult:
        """Timed: the entry's plan (with any eager prelude inside fn(),
        such as fixpoint rounds or a stream drain), then collecting its
        rows, which is the result a caller gets."""
        tracer = Tracer()
        try:
            with tracer.span("op"):
                with tracer.span("operators.build"):
                    df = catalog[name].fn(spark, self.sf_dir)
                with tracer.span("operators.action"):
                    rows = df.collect()
        except Exception as e:  # an operation that raises is a failed op
            return OpResult(name, tracer.seconds(), False, error=f"{type(e).__name__}: {e}"[:300])
        res = OpResult(name, tracer.seconds(), True, output=Collected(rows, df.columns),
                       layers=tracer.totals())
        res.layers.update(hooks.after_action(df))
        return res

    def check(self, res: OpResult) -> None:
        """Untimed: the collected rows against the DuckDB twin through
        tools/parity.py's compare, then the twin timed on its own. A
        twin-less entry must return the same row count on every pass."""
        from jaffle_shop_classic_spark.operators.catalog import load_catalog
        from tools.parity import compare

        try:
            out = compare(res.name, res.output, self.con)
        except Exception as e:
            res.ok, res.error = False, f"check raised {type(e).__name__}: {e}"[:300]
            return
        oracle = load_catalog()[res.name].oracle
        if "duck_sec" in out:
            res.twin_s = twin_seconds(out["duck_sec"], lambda: self.con.sql(oracle).fetchall())
        if out["status"] == "rows_only":
            first = self.row_counts.setdefault(res.name, out["spark_rows"])
            res.ok = first == out["spark_rows"]
        else:
            res.ok = out["status"] == "MATCH"
        if not res.ok:
            res.error = str(out)[:300]

    def close(self) -> None:
        self.con.close()


# -- dbt build ----------------------------------------------------------

# The reference staging views and models, as DuckDB SQL over the raw seed
# tables; the models build as tables, like the project's two table marts.
DUCK_STAGING = {
    "stg_customers": "select id as customer_id, first_name, last_name from raw_customers",
    "stg_orders": "select id as order_id, user_id as customer_id, order_date, status "
                  "from raw_orders",
    "stg_payments": "select id as payment_id, order_id, payment_method, "
                    "amount / 100 as amount from raw_payments",
}
DUCK_MODELS = {
    "customers": """
        with customer_orders as (
            select customer_id, min(order_date) as first_order,
                   max(order_date) as most_recent_order,
                   count(order_id) as number_of_orders
            from stg_orders group by customer_id),
        customer_payments as (
            select stg_orders.customer_id, sum(amount) as total_amount
            from stg_payments left join stg_orders
                on stg_payments.order_id = stg_orders.order_id
            group by stg_orders.customer_id)
        select c.customer_id, c.first_name, c.last_name,
               customer_orders.first_order, customer_orders.most_recent_order,
               customer_orders.number_of_orders,
               customer_payments.total_amount as customer_lifetime_value
        from stg_customers c
        left join customer_orders on c.customer_id = customer_orders.customer_id
        left join customer_payments on c.customer_id = customer_payments.customer_id
    """,
    "orders": """
        with order_payments as (
            select order_id,
                {pivot},
                sum(amount) as total_amount
            from stg_payments group by order_id)
        select o.order_id, o.customer_id, o.order_date, o.status,
               {pivot_cols},
               order_payments.total_amount as amount
        from stg_orders o left join order_payments on o.order_id = order_payments.order_id
    """.format(
        pivot=",\n".join(
            f"sum(case when payment_method = '{m}' then amount else 0 end) as {m}_amount"
            for m in gen.METHODS),
        pivot_cols=", ".join(f"order_payments.{m}_amount" for m in gen.METHODS),
    ),
}


def _values(vals) -> str:
    return ", ".join(f"'{v}'" for v in vals)


# The reference's 20 tests, each as a DuckDB query counting violations.
_UNIQUE = "select count(*) from (select {c} from {t} group by {c} having count(*) > 1)"
_NOT_NULL = "select count(*) from {t} where {c} is null"
DUCK_TESTS = [
    *(q.format(t=t, c=c) for t, c in (
        ("stg_customers", "customer_id"), ("stg_orders", "order_id"),
        ("stg_payments", "payment_id"), ("customers", "customer_id"), ("orders", "order_id"))
      for q in (_UNIQUE, _NOT_NULL)),
    f"select count(*) from stg_orders where status not in ({_values(gen.STATUSES)})",
    f"select count(*) from orders where status not in ({_values(gen.STATUSES)})",
    f"select count(*) from stg_payments where payment_method not in ({_values(gen.METHODS)})",
    "select count(*) from orders o anti join customers c on o.customer_id = c.customer_id "
    "where o.customer_id is not null",
    *(_NOT_NULL.format(t="orders", c=c)
      for c in ("customer_id", "amount", *(f"{m}_amount" for m in gen.METHODS))),
]
SEED_DUCK_TYPES = {
    "raw_customers": "{'id': 'BIGINT', 'first_name': 'VARCHAR', 'last_name': 'VARCHAR'}",
    "raw_orders": "{'id': 'BIGINT', 'user_id': 'BIGINT', 'order_date': 'DATE', "
                  "'status': 'VARCHAR'}",
    "raw_payments": "{'id': 'BIGINT', 'order_id': 'BIGINT', 'payment_method': 'VARCHAR', "
                    "'amount': 'BIGINT'}",
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class DbtWorkload:
    """One pass = the reference pipeline into a fresh warehouse dir:
    seed load, 5 models, 20 tests, docs catalog, then a day-2 batch of
    changed order statuses through the SCD2 snapshot. Every stage but
    docs has a DuckDB twin over the same CSVs, run in its check."""

    def __init__(self, stages: tuple[str, ...], n_customers: int):
        self.stages, self.n_customers = stages, n_customers
        self.passes = 0

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.day1 = os.path.join(work, "seeds_day1")
        self.day2 = os.path.join(work, "seeds_day2")
        made = gen.jaffle_seeds(self.day1, seed, self.n_customers)
        gen.check_jaffle_seeds(made["cols"])
        cols2, self.n_changed = gen.day2_orders(made["cols"], seed)
        gen.check_jaffle_seeds(cols2)
        day2_bytes = gen.write_jaffle_csvs(self.day2, cols2)
        self.n_orders = len(made["cols"]["raw_orders"]["id"])
        self.csv_bytes = made["csv_bytes"] + day2_bytes
        self.check_order = list(range(20))
        random.Random(seed).shuffle(self.check_order)
        self.duck_dir = os.path.join(work, "duckdb_parquet")
        os.makedirs(self.duck_dir, exist_ok=True)
        self.con = duckdb.connect()
        return {"input_bytes": self.csv_bytes}

    def ops(self, seed: int) -> list[str]:
        return list(self.stages)

    # One pass runs all stages; the runner asks for them one at a time,
    # so the pass state lives on the workload between calls.
    def run_op(self, spark, catalog, name: str, hooks: Hooks) -> OpResult:
        self.tracer = Tracer()
        try:
            with self.tracer.span(STAGE_LAYER[name]):
                out = getattr(self, f"_stage_{name}")(spark)
        except Exception as e:
            return OpResult(name, self.tracer.seconds(), False,
                            error=f"{type(e).__name__}: {e}"[:300])
        return OpResult(name, self.tracer.seconds(), True, layers=self.tracer.totals(),
                        output=(spark, out))

    def _stage_seed_load(self, spark):
        from jaffle_shop_classic_spark.models.jaffle import build_project, load_jaffle_sources

        self.passes += 1
        self.wh = os.path.join(self.work, f"warehouse_{self.passes}")
        shutil.rmtree(os.path.join(self.work, f"warehouse_{self.passes - 1}"),
                      ignore_errors=True)
        self.project = build_project(self.wh)
        load_jaffle_sources(self.project, spark, seed_dir=self.day1)

    def _stage_run(self, spark):
        self.built = self.project.run(spark)
        return self.built

    def _stage_checks(self, spark):
        from jaffle_shop_classic_spark.models.jaffle import jaffle_checks
        from jaffle_shop_classic_spark.testing.checks import run_checks

        checks = list(jaffle_checks(self.built).items())
        return run_checks(dict(checks[i] for i in self.check_order))

    def _stage_docs(self, spark):
        from jaffle_shop_classic_spark.plans.docs import generate_catalog

        return generate_catalog(self.project, self.built)

    def _snapshot(self, spark, at: int):
        self.project.snapshot_at = at
        return self.project.run(spark, select=["orders_status_snapshot"])[
            "orders_status_snapshot"]

    def _stage_snapshot(self, spark):
        from jaffle_shop_classic_spark.models.jaffle import build_snapshots

        build_snapshots(self.project)
        return self._snapshot(spark, 1).count()

    def _stage_day2_snapshot(self, spark):
        from jaffle_shop_classic_spark.models.jaffle import load_jaffle_sources

        with self.tracer.span("sources.seed_load"):
            load_jaffle_sources(self.project, spark, seed_dir=self.day2)
        snap = self._snapshot(spark, 2)
        return snap.count(), snap.filter("valid_to is null").count()

    def check(self, res: OpResult) -> None:
        """Untimed: the stage's DuckDB twin (timed as the twin time), then
        its output: marts equal to the twin's, 0 test violations on both
        engines, docs schemas, snapshot row counts on both engines."""
        name, (spark, out) = res.name, res.output
        twin = getattr(self, f"_twin_{name}", None)
        duck = None
        if twin is not None:
            try:
                t0 = _now()
                duck = twin()
                res.twin_s = twin_seconds(_now() - t0, twin)
            except duckdb.Error as e:
                res.ok, res.error = False, f"DuckDB twin raised {e}"[:300]
                return
        problem = ""
        if name == "checks":
            bad = [str(r) for r in out if not r.passed]
            res.layers["testing.violations"] = sum(r.n_violations for r in out)
            if len(out) != 20 or bad or duck:
                problem = f"{len(out)} tests, failing: {bad[:3]}; DuckDB violations {duck}"
        elif name == "run":
            problem = self._check_marts(spark, duck)
        elif name == "docs":
            built = [n for n, m in out["models"].items() if "schema" in m]
            if len(built) != 5:
                problem = f"docs catalog has schemas for {built}"
        elif name == "snapshot":
            if out != self.n_orders or duck != self.n_orders:
                problem = f"day-1 snapshot rows {out} (DuckDB {duck}), expected {self.n_orders}"
        elif name == "day2_snapshot":
            want = (self.n_orders + self.n_changed, self.n_orders)
            if out != want or duck != want:
                problem = f"day-2 snapshot (rows, open) = {out} (DuckDB {duck}), expected {want}"
            res.layers["sources.bytes_written"] = _dir_bytes(self.wh)
        if problem:
            res.ok, res.error = False, problem[:300]

    # DuckDB twins of the stages; each can be rerun for timing.
    def _load_duck(self, seed_dir: str, tables) -> None:
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM read_csv("
                f"'{seed_dir}/{t}.csv', header=true, columns={SEED_DUCK_TYPES[t]})")

    def _twin_seed_load(self):
        self._load_duck(self.day1, SEED_DUCK_TYPES)
        for t in SEED_DUCK_TYPES:
            self.con.execute(f"COPY {t} TO '{self.duck_dir}/{t}.parquet' (FORMAT parquet)")

    def _twin_run(self) -> dict:
        for v, sql in DUCK_STAGING.items():
            self.con.execute(f"CREATE OR REPLACE VIEW {v} AS {sql}")
        for m, sql in DUCK_MODELS.items():
            self.con.execute(f"CREATE OR REPLACE TABLE {m} AS {sql}")
        return {m: self.con.sql(f"SELECT * FROM {m}") for m in DUCK_MODELS}

    def _twin_checks(self) -> int:
        return self.con.sql("SELECT " + " + ".join(f"({q})" for q in DUCK_TESTS)).fetchone()[0]

    def _twin_snapshot(self) -> int:
        self.con.execute(
            "CREATE OR REPLACE TABLE snap AS SELECT id AS order_id, status, "
            "1 AS valid_from, CAST(NULL AS INTEGER) AS valid_to FROM raw_orders")
        return self.con.sql("SELECT count(*) FROM snap").fetchone()[0]

    def _twin_day2_snapshot(self) -> tuple[int, int]:
        """SCD2 over the day-2 orders: close each changed open row, add
        its new version."""
        con = self.con
        con.execute(
            "CREATE OR REPLACE TABLE raw_orders_day2 AS SELECT * FROM read_csv("
            f"'{self.day2}/raw_orders.csv', header=true, "
            f"columns={SEED_DUCK_TYPES['raw_orders']})")
        con.execute("CREATE OR REPLACE TABLE snap2 AS SELECT * FROM snap")
        con.execute(
            "CREATE OR REPLACE TABLE changed AS SELECT n.id AS order_id, n.status "
            "FROM raw_orders_day2 n JOIN snap2 s ON s.order_id = n.id "
            "AND s.valid_to IS NULL AND s.status <> n.status")
        con.execute("UPDATE snap2 SET valid_to = 2 WHERE valid_to IS NULL "
                    "AND order_id IN (SELECT order_id FROM changed)")
        con.execute("INSERT INTO snap2 SELECT order_id, status, 2, NULL FROM changed")
        return con.sql("SELECT count(*), count(*) FILTER (WHERE valid_to IS NULL) "
                       "FROM snap2").fetchone()

    def _check_marts(self, spark, duck: dict) -> str:
        """Marts equal the reference model SQL run by DuckDB over the same
        CSVs."""
        from tools.parity import _rows_multiset

        for m, rel in duck.items():
            cols, rows = rel.columns, rel.fetchall()
            got = spark.read.parquet(os.path.join(self.wh, m))
            if sorted(got.columns) != sorted(cols):
                return f"{m}: columns {got.columns} != {cols}"
            if _rows_multiset(got.columns, got.collect()) != _rows_multiset(cols, rows):
                return f"{m}: rows differ from the DuckDB rendition"
        return ""

    def close(self) -> None:
        self.con.close()


STAGE_LAYER = {
    "seed_load": "sources.seed_load",
    "run": "plans.run",
    "checks": "testing.checks",
    "docs": "plans.docs",
    "snapshot": "plans.snapshot",
    "day2_snapshot": "plans.snapshot",
}


def make(name: str):
    with open(SPEC_PATH) as f:
        spec = json.load(f)["workloads"][name]
    if name == "dbt_build":
        return DbtWorkload(tuple(spec["pass"]), spec["customers"])
    names = tuple(n for part in ("floor", "heavy", "stream") for n in spec[part])
    return CatalogWorkload(names, sf=spec["sf"])
