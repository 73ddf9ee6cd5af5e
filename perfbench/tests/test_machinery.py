"""Unit tests for the benchmark's own machinery (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import overhead  # noqa: E402
import spread as spread_mod  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# -- percentile rule and quartiles ---------------------------------------


@pytest.mark.parametrize("n, reported", [(0, False), (99, False), (100, True), (1000, True)])
def test_p90_needs_ten_samples_beyond(n, reported):
    xs = [float(i) for i in range(n)]
    assert (stats.p90(xs) is not None) == reported
    if reported:
        assert sum(x > stats.p90(xs) for x in xs) >= 10


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 0.5) == pytest.approx(50.5)
    assert stats.percentile(xs, 0.9) == pytest.approx(90.1)
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 10.2, 9.8, 10.1, 10.4, 9.9]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert stats.quartile_spread([5.0] * 10) == 0.0
    assert stats.quartile_spread([0.0, 0.0, 1.0]) == 0.0


def test_spread_summarises_result_lines(tmp_path):
    paths = []
    for i, v in enumerate([1.0, 1.1, 0.9, 1.2, 1.0]):
        p = tmp_path / f"run{i}.txt"
        p.write_text("table line\n" + json.dumps(
            {"correct": True, "attempted": 1, "failed": 0,
             "metrics": {"pass_s": {"value": v, "unit": "s"}}}) + "\n")
        paths.append(str(p))
    n, med, spread = spread_mod.summarise(paths)["pass_s"]
    assert (n, med) == (5, 1.0)
    assert spread == pytest.approx(stats.quartile_spread([1.0, 1.1, 0.9, 1.2, 1.0]))


# -- span self time ------------------------------------------------------


def test_self_time_subtracts_covered_children():
    spans = [
        tracing.Span("op", 0.0, 10.0, None),
        tracing.Span("build", 1.0, 4.0, 0),
        tracing.Span("action", 3.0, 6.0, 0),  # overlaps build: 1..6 covered
        tracing.Span("inner", 2.0, 3.0, 1),
        tracing.Span("late", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    got = dict(tracing.self_times(spans))
    assert got["op"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["build"] == pytest.approx(3.0 - 1.0)
    assert got["action"] == pytest.approx(3.0)
    assert got["inner"] == pytest.approx(1.0)


def test_tracer_nests_spans():
    t = tracing.Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    totals = t.totals()
    assert totals["outer"] + totals["inner"] == pytest.approx(outer.end - outer.start)


# -- event log reader ----------------------------------------------------


def test_reads_recorded_zstd_rolling_log():
    """A real Spark 4 rolling log (trimmed to the events the reader uses):
    g1 ran a shuffle aggregate, g2 a mapInPandas, and a streaming query's
    micro-batches carry its run id as job group."""
    events = tracing.read_events(os.path.join(HERE, "data"))
    kinds = {e["Event"] for e in events}
    assert {"SparkListenerJobStart", "SparkListenerTaskEnd"} <= kinds
    groups = tracing.aggregate_events(events)
    g1, g2 = groups["g1"], groups["g2"]
    assert (g1.jobs, g1.stages, g1.tasks, g1.failed_tasks) == (2, 2, 3, 0)
    assert g1.shuffle_write_mb > 0 and g1.shuffle_read_mb == pytest.approx(g1.shuffle_write_mb)
    assert 0 < g1.cpu_s < g1.run_s
    assert g2.python_sent_mb > 0 and g2.python_exec_s == pytest.approx(4.43)
    stream = [g for k, g in groups.items() if k not in ("g1", "g2", "")]
    assert len(stream) == 1 and stream[0].jobs == 2 and stream[0].failed_tasks == 2


def test_event_files_in_part_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_app").write_text(f'{{"Event": "e{i}"}}\n')
    assert [e["Event"] for e in tracing.read_events(str(tmp_path))] == ["e1", "e2", "e10"]


# -- streaming listener aggregation --------------------------------------


def _progress(run, rows, ms, state):
    return {"run_id": run, "input_rows": rows,
            "duration_ms": {"triggerExecution": ms},
            "state": [{"rows": r, "mem_bytes": b, "commit_ms": c, "stores": s}
                      for r, b, c, s in state]}


def test_aggregate_progress():
    records = [
        _progress("a", 100, 500, [(40, 2 * tracing.MB, 30, 4)]),
        _progress("a", 0, 200, [(10, 1 * tracing.MB, 20, 4)]),  # eviction only
        _progress("b", 50, 300, [(5, 1 * tracing.MB, 10, 2), (7, 0, 5, 2)]),
        _progress("c", 20, 100, []),  # stateless
    ]
    got = tracing.aggregate_progress(records)
    assert got == {
        "triggers": 4, "empty_triggers": 1, "trigger_ms": 1100, "commit_ms": 65,
        "state_stores": 4, "state_rows": 10 + 5 + 7, "state_mb": 2.0,
    }
    assert tracing.aggregate_progress([])["triggers"] == 0


def test_progress_record_keeps_what_aggregation_reads():
    state = SimpleNamespace(numRowsTotal=3, memoryUsedBytes=1024, commitTimeMs=7,
                            numStateStoreInstances=8)
    progress = SimpleNamespace(runId="r1", numInputRows=0,
                               durationMs={"triggerExecution": 42, "addBatch": 30},
                               stateOperators=[state])
    rec = tracing.progress_record(progress)
    assert rec == {"run_id": "r1", "input_rows": 0,
                   "duration_ms": {"triggerExecution": 42, "addBatch": 30},
                   "state": [{"rows": 3, "mem_bytes": 1024, "commit_ms": 7, "stores": 8}]}
    got = tracing.aggregate_progress([rec])
    assert (got["empty_triggers"], got["trigger_ms"], got["state_stores"]) == (1, 42, 8)


# -- seed generator ------------------------------------------------------


def test_jaffle_seeds_hold_invariants_and_repeat(tmp_path):
    a = gen.jaffle_seeds(str(tmp_path / "a"), seed=7, n_customers=500)
    b = gen.jaffle_seeds(str(tmp_path / "b"), seed=7, n_customers=500)
    gen.check_jaffle_seeds(a["cols"])
    for name in ("raw_customers", "raw_orders", "raw_payments"):
        assert (tmp_path / "a" / f"{name}.csv").read_bytes() == (
            tmp_path / "b" / f"{name}.csv").read_bytes()
    day2, changed = gen.day2_orders(a["cols"], seed=7)
    gen.check_jaffle_seeds(day2)
    moved = (day2["raw_orders"]["status"] != a["cols"]["raw_orders"]["status"]).sum()
    assert changed == moved > 0


def test_check_jaffle_seeds_rejects_broken_fk(tmp_path):
    cols = gen.jaffle_seeds(str(tmp_path), seed=1, n_customers=200)["cols"]
    cols["raw_payments"]["order_id"][0] = 10**9
    with pytest.raises(ValueError, match="does not resolve"):
        gen.check_jaffle_seeds(cols)


def test_star_tables_follow_test_data_shape():
    a, b = gen.star_tables(seed=3, sf=0.001), gen.star_tables(seed=3, sf=0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in ("customer", "orders", "lineitem", "events")} == {
        "customer": 150, "orders": 1500, "lineitem": 6000, "events": 1000}
    assert len(set(a["events"]["user_id"].to_pylist())) <= 15  # one user per ten customers
    texts = a["documents"]["text"].to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // 20


# -- DuckDB twins and tracing overhead -----------------------------------


def test_dbt_twins_agree_with_the_generated_seeds(tmp_path):
    wl = workloads.DbtWorkload(("seed_load",), n_customers=300)
    wl.prepare(str(tmp_path), seed=5)
    for _ in range(2):  # a twin is rerun for timing, so it must repeat
        wl._twin_seed_load()
        marts = wl._twin_run()
        assert marts["customers"].fetchall() and marts["orders"].fetchall()
        assert len(workloads.DUCK_TESTS) == 20 and wl._twin_checks() == 0
        assert wl._twin_snapshot() == wl.n_orders
        assert wl._twin_day2_snapshot() == (wl.n_orders + wl.n_changed, wl.n_orders)
    wl.close()


def test_overhead_unresolved_when_quartiles_straddle_zero():
    assert overhead.overhead([0.1, 0.2, 0.3, 0.4, 0.5])["resolved"]
    assert not overhead.overhead([-0.3, -0.1, 0.1, 0.2, 0.4])["resolved"]
