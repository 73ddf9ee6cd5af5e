"""DAG runner semantics: topo order, cycle detection, selection,
materialization modes."""

from __future__ import annotations

import graphlib

import pytest
from pyspark.sql import functions as F

from jaffle_shop_classic_spark.plans.registry import Project


def _tiny_project(spark, warehouse=None):
    p = Project(warehouse_dir=warehouse)
    p.add_source("src", spark.range(10).withColumnRenamed("id", "n"))

    @p.model(name="a", deps=("src",))
    def a(ctx):
        return ctx.ref("src").filter(F.col("n") >= 5)

    @p.model(name="b", deps=("a",), materialized="table")
    def b(ctx):
        return ctx.ref("a").agg(F.sum("n").alias("total"))

    return p


def test_topo_order_and_run(spark):
    p = _tiny_project(spark)
    order = p.topo_order()
    assert order.index("a") < order.index("b")
    built = p.run(spark)
    assert built["b"].collect()[0]["total"] == 5 + 6 + 7 + 8 + 9


def test_cycle_detection(spark):
    p = Project()

    @p.model(name="x", deps=("y",))
    def x(ctx):
        return ctx.ref("y")

    @p.model(name="y", deps=("x",))
    def y(ctx):
        return ctx.ref("x")

    with pytest.raises(graphlib.CycleError):
        p.topo_order()


def test_selection_pulls_upstream(spark):
    p = _tiny_project(spark)
    built = p.run(spark, select=["b"])
    assert "a" in built and "b" in built


def test_table_materialization_writes_parquet(spark, tmp_path):
    p = _tiny_project(spark, warehouse=str(tmp_path))
    built = p.run(spark)
    assert (tmp_path / "b").exists()
    assert built["b"].inputFiles()


def test_unknown_ref_raises(spark):
    p = Project()

    @p.model(name="m", deps=("nope",))
    def m(ctx):
        return ctx.ref("nope")

    with pytest.raises(KeyError):
        p.run(spark)


def test_ephemeral_materialization_inlines_without_view(spark):
    p = Project()
    p.add_source("src", spark.range(4).withColumnRenamed("id", "n"))

    @p.model(name="eph", deps=("src",), materialized="ephemeral")
    def eph(ctx):
        return ctx.ref("src").filter(F.col("n") > 1)

    @p.model(name="out", deps=("eph",), materialized="table")
    def out(ctx):
        return ctx.ref("eph").agg(F.count(F.lit(1)).alias("n_rows"))

    built = p.run(spark)
    assert built["out"].collect()[0]["n_rows"] == 2
    # ephemeral models never register a catalog view
    assert not spark.catalog.tableExists("eph")


def test_sql_model_resolves_refs_via_views(spark):
    p = Project()
    p.add_source("raw_nums", spark.range(10).withColumnRenamed("id", "n"))
    p.sql_model(
        "stg_nums",
        "SELECT n, n * 2 AS doubled FROM raw_nums WHERE n >= 5",
        deps=("raw_nums",),
    )
    p.sql_model(
        "sum_nums",
        "SELECT sum(doubled) AS total FROM stg_nums",
        deps=("stg_nums",),
        materialized="table",
    )
    built = p.run(spark)
    assert built["sum_nums"].collect()[0]["total"] == 2 * (5 + 6 + 7 + 8 + 9)


def test_sql_model_mirrors_reference_staging_sql(spark):
    # the reference's stg_customers.sql body, Jinja braces removed
    # (/root/reference/models/staging/stg_customers.sql:1-22)
    p = Project()
    p.add_source(
        "raw_customers",
        spark.createDataFrame([(1, "Ann", "A."), (2, "Bob", "B.")], ["id", "first_name", "last_name"]),
    )
    p.sql_model(
        "stg_customers_sql",
        """
        with source as (select * from raw_customers),
        renamed as (
            select id as customer_id, first_name, last_name from source
        )
        select * from renamed
        """,
        deps=("raw_customers",),
    )
    built = p.run(spark)
    rows = built["stg_customers_sql"].orderBy("customer_id").collect()
    assert [r["customer_id"] for r in rows] == [1, 2]
    assert rows[0]["first_name"] == "Ann"


def test_model_contract_enforced(spark):
    """dbt `contract: enforced` semantics: declared name+type must match
    the analyzed output schema exactly — pre-flight, before any write."""
    import pytest
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.plans.registry import ContractViolation, Project

    project = Project()

    @project.model(contract={"id": "bigint", "amount": "double"})
    def good(ctx):
        return ctx.spark.range(3).select(
            F.col("id"), (F.col("id") * 1.5).alias("amount")
        )

    @project.model(contract={"id": "bigint", "amount": "decimal(10,2)"})
    def bad_type(ctx):
        return ctx.spark.range(3).select(
            F.col("id"), (F.col("id") * 1.5).alias("amount")
        )

    @project.model(contract={"id": "bigint"})
    def undeclared_col(ctx):
        return ctx.spark.range(3).select(F.col("id"), F.lit("x").alias("extra"))

    assert project.resolve("good", spark).count() == 3
    with pytest.raises(ContractViolation, match="declared decimal"):
        project.resolve("bad_type", spark)
    with pytest.raises(ContractViolation, match="undeclared column"):
        project.resolve("undeclared_col", spark)


def test_contract_type_spellings_normalize(spark):
    """Equivalent type spellings must NOT violate: 'long'=='bigint',
    'decimal(10, 2)' with a space, mixed case. Declared strings are
    parsed into DataType objects before comparison."""
    from jaffle_shop_classic_spark.plans.registry import Project

    project = Project()

    @project.model(
        contract={"id": "long", "amount": "DECIMAL(10, 2)", "name": "String"}
    )
    def spellings(ctx):
        return ctx.spark.range(3).select(
            F.col("id"),
            F.col("id").cast("decimal(10,2)").alias("amount"),
            F.lit("x").alias("name"),
        )

    assert project.resolve("spellings", spark).count() == 3


def test_incremental_contract_preflight_no_persist(spark, tmp_path):
    """A contract-violating incremental batch must not persist a new
    version — the next run's `prev` state stays uncorrupted (dbt's
    pre-flight 'before any data is written' semantics)."""
    from jaffle_shop_classic_spark.plans.registry import ContractViolation, Project

    project = Project(warehouse_dir=str(tmp_path))
    state = {"schema": "good"}

    @project.model(
        name="inc",
        materialized="incremental",
        unique_key=("id",),
        contract={"id": "bigint", "v": "bigint"},
    )
    def inc(ctx):
        df = ctx.spark.range(3).select(F.col("id"), (F.col("id") * 10).alias("v"))
        if state["schema"] == "bad":
            return df.withColumn("v", F.col("v").cast("double"))
        return df

    project.run(spark)
    assert project._latest_version("inc") == 1

    state["schema"] = "bad"
    with pytest.raises(ContractViolation):
        project.run(spark)
    # the violating batch wrote nothing: stored state is still v1, intact
    assert project._latest_version("inc") == 1
    prev = project._read_latest("inc", spark)
    assert prev.schema["v"].dataType.simpleString() == "bigint"
    assert prev.count() == 3


def test_snapshot_contract_preflight_no_persist(spark, tmp_path):
    """Snapshot contracts are checked on the model's OWN output (the
    engine-added valid_from/valid_to are outside the contract) and a
    violating run must not write a new snapshot version."""
    from jaffle_shop_classic_spark.plans.registry import ContractViolation, Project

    project = Project(warehouse_dir=str(tmp_path))
    state = {"schema": "good"}

    @project.model(
        name="snap",
        materialized="snapshot",
        unique_key=("id",),
        contract={"id": "bigint", "status": "string"},
    )
    def snap(ctx):
        df = ctx.spark.range(2).select(F.col("id"), F.lit("open").alias("status"))
        if state["schema"] == "bad":
            return df.withColumn("extra", F.lit(1))
        return df

    project.snapshot_at = 1
    project.run(spark)
    assert project._latest_version("snap") == 1

    state["schema"] = "bad"
    project.snapshot_at = 2
    with pytest.raises(ContractViolation, match="undeclared column"):
        project.run(spark)
    assert project._latest_version("snap") == 1


def test_time_travel_reads_immutable_versions(spark, tmp_path):
    """Each incremental refresh writes an immutable version; read_version
    reproduces any historical state (VERSION AS OF), and asking for a
    missing version fails loudly."""
    from jaffle_shop_classic_spark.plans.registry import Project

    project = Project(warehouse_dir=str(tmp_path))
    state = {"hi": 3}

    @project.model(name="inc_tt", materialized="incremental", unique_key=("id",))
    def inc_tt(ctx):
        return ctx.spark.range(state["hi"]).select(
            F.col("id"), (F.col("id") * 100).alias("v")
        )

    project.run(spark)
    state["hi"] = 5  # second refresh adds ids 3,4
    project.run(spark)

    v1 = project.read_version("inc_tt", spark, 1)
    v2 = project.read_version("inc_tt", spark, 2)
    assert v1.count() == 3 and v2.count() == 5
    assert {r["id"] for r in v1.collect()} == {0, 1, 2}
    # historical state is untouched by later refreshes
    assert {r["v"] for r in v1.collect()} == {0, 100, 200}
    with pytest.raises(ValueError, match="version 9 not found"):
        project.read_version("inc_tt", spark, 9)


def test_graph_selectors_dbt_syntax(spark):
    """dbt selector parity: +model pulls ancestors, model+ pulls
    descendants, +model+ pulls both; a typo'd name fails loudly."""
    from jaffle_shop_classic_spark.plans.registry import Project

    p = Project()
    p.add_source("src", spark.range(3).withColumnRenamed("id", "n"))

    @p.model(name="a", deps=("src",))
    def a(ctx):
        return ctx.ref("src")

    @p.model(name="b", deps=("a",))
    def b(ctx):
        return ctx.ref("a")

    @p.model(name="c", deps=("b",))
    def c(ctx):
        return ctx.ref("b")

    @p.model(name="d", deps=("a",))
    def d(ctx):
        return ctx.ref("a")

    assert p.select_set(["+b"]) == {"a", "b"}
    assert p.select_set(["b+"]) == {"b", "c"}
    assert p.select_set(["+b+"]) == {"a", "b", "c"}
    assert p.select_set(["a+"]) == {"a", "b", "c", "d"}
    assert p.select_set(["c"]) == {"c"}
    with pytest.raises(KeyError, match="unknown model"):
        p.select_set(["+nope"])

    # run() with a selector builds exactly the selection (+ lazily
    # resolved upstream refs, which don't appear as selected outputs)
    built = p.run(spark, select=["b+"])
    assert {"b", "c"} <= set(built)
    assert "d" not in built


def test_registration_guards_fail_loudly(spark):
    from jaffle_shop_classic_spark.plans.registry import Project

    p = Project()
    import pytest

    with pytest.raises(TypeError, match="parentheses"):

        @p.model
        def broken(ctx):  # pragma: no cover
            pass

    with pytest.raises(ValueError, match="unknown materialization"):
        p.model(name="m1", materialized="tabel")(lambda ctx: None)

    with pytest.raises(ValueError, match="not supported for snapshots"):
        p.model(
            name="m2",
            materialized="snapshot",
            unique_key=("id",),
            on_schema_change="fail",
        )(lambda ctx: None)


def _run_with_timeout(project, spark, seconds=120):
    """project.run(spark) from a fresh thread, failing instead of hanging
    if a concurrent build deadlocks."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return pool.submit(project.run, spark).result(timeout=seconds)
    finally:
        pool.shutdown(wait=False)


def test_lazy_ref_does_not_double_materialize(spark, tmp_path):
    """A model built via ctx.ref() during run() must not be
    re-materialized when the run reaches it — for incremental models a
    second build would write a spurious extra version. The consumers and
    the model share one DAG level, so the run's own build and every
    consumer's ref() race for it."""
    import sys

    from jaffle_shop_classic_spark.plans.registry import Project

    p = Project(warehouse_dir=str(tmp_path))
    builds = {"n": 0}

    @p.model(name="inc_b", materialized="incremental", unique_key=("id",))
    def inc_b(ctx):
        builds["n"] += 1
        return ctx.spark.createDataFrame([(1, "x")], "id long, v string")

    # registered with NO declared edge: consumers discover b only via
    # ref(); more consumers than cores, so threads interleave
    def consumer(ctx):
        return ctx.ref("inc_b").select("id")

    names = [f"consumer_{i}" for i in range(8)]
    for name in names:
        p.model(name=name)(consumer)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        built = _run_with_timeout(p, spark)
    finally:
        sys.setswitchinterval(interval)
    assert builds["n"] == 1  # one build regardless of which thread wins
    assert p._versions("inc_b") == [1]  # exactly one version written
    assert all(built[n].collect() == [(1,)] for n in names)


def test_undeclared_ref_cycle_fails_instead_of_hanging(spark):
    """Models that ref() each other without declaring it: a build that
    would wait on its own thread raises CycleError, whether the cycle
    closes in one thread or across a level's concurrent builds."""
    from jaffle_shop_classic_spark.plans.registry import Project

    for third_thread in (False, True):
        p = Project()

        @p.model(name="x")
        def x(ctx):
            return ctx.ref("y")

        @p.model(name="y")
        def y(ctx):
            return ctx.ref("x")

        if third_thread:  # z reaches x through ref() as well
            @p.model(name="z")
            def z(ctx):
                return ctx.ref("x")

        with pytest.raises(graphlib.CycleError, match="ref\\(\\) cycle"):
            _run_with_timeout(p, spark)


def test_run_fails_fast_and_keeps_job_attribution(spark, tmp_path):
    """A model raising in level k propagates out of run() and no level
    k+1 model is built; jobs the level's concurrent builds launch land in
    the caller's job group, with no tag-inheritance warning."""
    import uuid
    import warnings

    from jaffle_shop_classic_spark.plans.registry import Project

    p = Project(warehouse_dir=str(tmp_path))
    built = []

    @p.model(name="ok_a", materialized="table")
    def ok_a(ctx):
        built.append("ok_a")
        return ctx.spark.range(5)

    @p.model(name="ok_b", materialized="table")
    def ok_b(ctx):
        built.append("ok_b")
        return ctx.spark.range(7)

    @p.model(name="boom")
    def boom(ctx):
        raise RuntimeError("model boom failed")

    @p.model(name="downstream", deps=("ok_a",))
    def downstream(ctx):
        built.append("downstream")
        return ctx.ref("ok_a")

    sc = spark.sparkContext
    group = f"registry-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "attribution test")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with pytest.raises(RuntimeError, match="model boom failed"):
                p.run(spark)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sorted(built) == ["ok_a", "ok_b"]  # level 0 finished, level 1 never ran
    assert "downstream" not in p._built
    # the two table writes ran in pool threads, inside the caller's group
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_snapshot_duplicate_key_fails_loudly(spark, tmp_path):
    from jaffle_shop_classic_spark.plans.registry import Project
    import pytest

    p = Project(warehouse_dir=str(tmp_path))

    @p.model(name="snap_dup", materialized="snapshot", unique_key=("id",))
    def snap_dup(ctx):
        return ctx.spark.createDataFrame(
            [(1, "a"), (1, "b")], "id long, status string"
        )

    p.snapshot_at = 1
    # duplicate keys are invalid on ANY run — the first write would
    # already store two open rows for one key
    with pytest.raises(ValueError, match="duplicate"):
        p.run(spark)
    assert p._versions("snap_dup") == []  # nothing persisted


def test_snapshot_preflight_reports_duplicates_before_the_clock(spark, tmp_path):
    """The duplicate-key and high-water probes run together; duplicate
    keys are reported even when the clock is also stale, and a stale
    clock alone trips the monotonic-clock guard."""
    from jaffle_shop_classic_spark.plans.registry import Project

    p = Project(warehouse_dir=str(tmp_path))
    rows = {"v": [(1, "a"), (2, "b")]}

    @p.model(name="snap_pf", materialized="snapshot", unique_key=("id",))
    def snap_pf(ctx):
        return ctx.spark.createDataFrame(rows["v"], "id long, status string")

    p.snapshot_at = 5
    p.run(spark)
    rows["v"] = [(1, "a"), (1, "b")]
    with pytest.raises(ValueError, match="duplicate"):
        p.run(spark)  # clock 5 is stale too: duplicates win
    rows["v"] = [(1, "c"), (2, "b")]
    with pytest.raises(ValueError, match="must exceed the stored high-water mark 5"):
        p.run(spark)
    assert p._versions("snap_pf") == [1]
    p.snapshot_at = 6
    p.run(spark)
    assert p._versions("snap_pf") == [1, 2]
