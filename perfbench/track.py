"""Check that the generated star schema tracks a real test-data directory.

    python3 perfbench/track.py REAL_SF_DIR SF --seeds 1 2 3 [--rounds 3]

REAL_SF_DIR holds the ten star tables at scale factor SF (as the repo's
tests read them). The script generates the same tables for each seed at
SF and prints, per table, the schema, row count and per-column summaries
of both; then, per catalog_mix entry, the warm Spark time (median over
``--rounds`` passes after one warm-up pass), the DuckDB-twin time and the
parity status on the real tables and on each generated set.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402

import gen  # noqa: E402
import run as runner  # noqa: E402
import workloads as wls  # noqa: E402


def column_summaries(sf_dir: str) -> dict[str, dict]:
    """Per table: its row count and, per column, type, distinct count,
    min, median (strings: mode) and max (list columns: of their length)."""
    con = duckdb.connect()
    out = {}
    for t in wls.STAR_TABLES:
        rel = con.sql(f"SELECT * FROM '{sf_dir}/{t}.parquet'")
        cols = {}
        for c, typ in zip(rel.columns, rel.types):
            x = f"len({c})" if str(typ).endswith("[]") else c
            mid = "mode" if str(typ) == "VARCHAR" else "median"
            cols[c] = (str(typ),) + con.sql(
                f"SELECT approx_count_distinct({x}), min({x}), {mid}({x}), max({x}) "
                f"FROM '{sf_dir}/{t}.parquet'").fetchone()
        out[t] = {"rows": rel.shape[0], "cols": cols}
    con.close()
    return out


def _short(v) -> str:
    s = f"{v:.4g}" if isinstance(v, float) else str(v)
    return s if len(s) <= 22 else s[:19] + "..."


def compare_tables(real: dict, made: dict, tag: str) -> None:
    for t in wls.STAR_TABLES:
        a, b = real[t], made[t]
        same = [c for c in a["cols"] if b["cols"].get(c, ("",))[0] == a["cols"][c][0]]
        print(f"{t}: rows real {a['rows']} {tag} {b['rows']}; "
              f"schema {'same' if len(same) == len(a['cols']) == len(b['cols']) else 'DIFFERS'}")
        for c, ra in a["cols"].items():
            rb = b["cols"].get(c, ("missing",))
            print(f"  {c:18s} real " + " ".join(map(_short, ra[1:])).ljust(62)
                  + f" {tag} " + " ".join(map(_short, rb[1:])))


def time_entries(spark, catalog, wl, dirs: dict[str, str], rounds: int) -> dict:
    """Per directory and entry: (median Spark s, median twin s, check
    result). Directories take turns within each round, so host drift
    and JIT warm-up fall on all of them alike."""
    runs: dict[str, dict[str, list]] = {t: {n: [] for n in wl.names} for t in dirs}
    for r in range(rounds + 1):
        for tag, d in dirs.items():
            wl.attach(d)
            for name in wl.names:
                res = wl.run_op(spark, catalog, name, wls.Hooks())
                if res.ok:
                    wl.check(res)
                if r:  # the first round only warms up
                    runs[tag][name].append(res)
            wl.close()
    return {
        t: {n: (statistics.median(x.seconds for x in rs), statistics.median(x.twin_s for x in rs),
                "ok" if all(x.ok for x in rs) else next(x.error for x in rs if not x.ok))
            for n, rs in per.items()}
        for t, per in runs.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("real_dir")
    ap.add_argument("sf", type=float)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args(argv)
    work = os.path.join(runner.ROOT, ".perfbench_work", f"track-{os.getpid()}")
    runner._configure_env(work, trace=False)
    dirs = {"real": os.path.abspath(args.real_dir)}
    for s in args.seeds:
        dirs[f"seed{s}"] = os.path.join(work, f"star{s}")
        gen.star_schema(dirs[f"seed{s}"], s, args.sf)
    try:
        real = column_summaries(dirs["real"])
        for tag, d in dirs.items():
            if tag != "real":
                compare_tables(real, column_summaries(d), tag)
        from jaffle_shop_classic_spark.operators.catalog import load_catalog
        from jaffle_shop_classic_spark.session import get_spark

        spark, catalog = get_spark(), load_catalog()
        wl = wls.make("catalog_mix")
        times = time_entries(spark, catalog, wl, dirs, args.rounds)
        print(f"\n{'entry':28s}" + "".join(f"{t:>28s}" for t in dirs)
              + "   (spark s / duckdb s / check)")
        for n in wl.names:
            print(f"{n:28s}" + "".join(
                f"{times[t][n][0]:>12.3f} /{times[t][n][1]:8.4f} {times[t][n][2][:5]:>5s}"
                for t in dirs))
        for t in dirs:
            bad = {n: v[2] for n, v in times[t].items() if v[2] != "ok"}
            print(f"{t}: pass {sum(v[0] for v in times[t].values()):.3f} s spark, "
                  f"{sum(v[1] for v in times[t].values()):.4f} s duckdb; failing: {bad or 'none'}")
    finally:
        if "pyspark" in sys.modules:
            runner.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
