"""Compare the generated dashboard tables with a reference copy of the
package's sf0.1 test tables.

    python3 graftbench/tablecheck.py --reference DIR [--seed N] [--tolerance T]

Run from the repository root. Writes the tables for ``--seed`` to
``.graftbench/tablecheck/`` and prints, generated beside reference:

- per column: rows, distinct values (approximate), min, max and mean;
- per dashboard query: its result rows and the rows that flow through
  its DuckDB oracle plan (the sum of every operator's output
  cardinality), which is how much of the tables the query's filters and
  joins keep.

Each line ends with the largest generated/reference ratio off 1. The
exit code is 1 if a row count, distinct count, mean or query line is
further off than ``--tolerance``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def off(a, b) -> float:
    """How far ``a / b`` is from 1 (0 when both are 0 or missing)."""
    if a is None or b is None or a == b:
        return 0.0
    return abs(a / b - 1) if b else float("inf")


def column_stats(con, table: str) -> dict[str, dict]:
    rows = con.execute(f"SUMMARIZE {table}").fetchall()
    names = [d[0] for d in con.description]
    out = {}
    for r in rows:
        s = dict(zip(names, r))
        out[s["column_name"]] = {
            "rows": s["count"], "distinct": s["approx_unique"],
            "min": s["min"], "max": s["max"],
            "mean": float(s["avg"]) if s["avg"] is not None else None}
    return out


def plan_rows(con, sql: str, prof: str) -> tuple[int, int]:
    """(result rows, rows through the plan) of one DuckDB query."""
    con.execute("PRAGMA enable_profiling='json'")
    con.execute(f"PRAGMA profiling_output='{prof}'")
    n = len(con.execute(sql).fetchall())
    con.execute("PRAGMA disable_profiling")
    with open(prof) as fh:
        tree = json.load(fh)

    def total(node) -> int:
        return node.get("cardinality", 0) + sum(map(total, node.get("children", [])))

    return n, total(tree)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reference", required=True, help="directory of <table>.parquet files")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--tolerance", type=float, default=0.1)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)

    import duckdb

    from graftbench import check, gen
    from graftbench.workloads import DASHBOARD_QUERIES
    from realtime_financial_transactions_data_pipeline_spark.registry import all_probes

    work = os.path.join(ROOT, ".graftbench", "tablecheck")
    shutil.rmtree(work, ignore_errors=True)
    counts = gen.write_star_tables(os.path.join(work, "tables"), args.seed, 0.1)
    cons = {"gen": check.duckdb_on(os.path.join(work, "tables")),
            "ref": check.duckdb_on(args.reference)}
    worst = 0.0

    print(f"{'column':32} {'rows':>15} {'distinct':>15} {'mean':>23}  min / max (gen | ref)")
    for table in counts:
        g, r = (column_stats(c, table) for c in (cons["gen"], cons["ref"]))
        for col in g:
            a, b = g[col], r.get(col)
            if b is None:
                print(f"{table}.{col}: not in the reference")
                worst = float("inf")
                continue
            dev = max(off(a[k], b[k]) for k in ("rows", "distinct", "mean"))
            worst = max(worst, dev)
            mean = (f"{a['mean']:.4g}/{b['mean']:.4g}" if a["mean"] is not None else "-")
            print(f"{table + '.' + col:32} {a['rows']:>7}/{b['rows']:<7} "
                  f"{a['distinct']:>7}/{b['distinct']:<7} {mean:>23}  "
                  f"{a['min']} / {a['max']} | {b['min']} / {b['max']}  off {dev:.3f}")

    probes = all_probes()
    print(f"\n{'query':32} {'result rows':>15} {'plan rows':>19}")
    for name in DASHBOARD_QUERIES:
        sql = probes[name].oracle
        (ng, pg), (nr, pr) = (plan_rows(c, sql, os.path.join(work, f"{k}.json"))
                              for k, c in cons.items())
        dev = max(off(ng, nr), off(pg, pr))
        worst = max(worst, dev)
        print(f"{name:32} {ng:>7}/{nr:<7} {pg:>9}/{pr:<9}  off {dev:.3f}")
    for c in cons.values():
        c.close()
    shutil.rmtree(work, ignore_errors=True)
    print(f"\nlargest ratio off 1: {worst:.3f} (tolerance {args.tolerance})")
    return 0 if worst <= args.tolerance else 1


if __name__ == "__main__":
    sys.exit(main())
