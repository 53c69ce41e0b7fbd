"""Record local baseline anchors for bench headline keys.

Measures, on this machine at sf0.1, the same two columns the original
BASELINE.md table records:

- **DuckDB**: the key's oracle SQL (the cost of the answer in the
  in-process OLAP engine — a floor, not the gate). Rows-only keys have
  no oracle, so their DuckDB column is n/a.
- **PySpark first-cut**: the engine's query body under a STOCK session
  (shuffle.partitions=8, default 10 MB autoBroadcastJoinThreshold, AQE
  defaults) — the same untuned configuration the original first-cut
  rows used, isolating what the session tuning buys.

Prints a markdown table row per key (cold + warm) to paste into
BASELINE.md. Usage:
    python tools/record_baselines.py [--sf DIR] [--keys q9_profit bpe_train ...]
--keys takes bench.HEADLINE names; the default is every headline key.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--keys", nargs="+", choices=list(HEADLINE), default=list(HEADLINE),
        metavar="NAME", help="bench.HEADLINE names (default: all)",
    )
    args = ap.parse_args()

    from base_etl_spark import build_session, execute_fully, oracle_sql, queries
    from base_etl_spark.compare import oracle_con

    con = oracle_con(args.sf)

    spark = build_session(
        "record_baselines",
        shuffle_partitions=8,
        extra_conf={
            # stock Spark broadcast threshold (the session default is a
            # tuned 64 MB); this is the untuned first-cut configuration
            "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = queries(), oracle_sql()

    print("| bench key | registry key | DuckDB | PySpark cold | PySpark warm | rows out |")
    print("|---|---|---:|---:|---:|---:|")
    for bench_key in args.keys:
        reg_key = HEADLINE[bench_key]
        dt = []
        for _ in range(2):
            if reg_key not in osql:  # R key: no oracle, no DuckDB column
                dt.append(float("nan"))
                break
            t0 = time.time()
            nrows = len(con.sql(osql[reg_key]).fetchall())
            dt.append(time.time() - t0)
        st = []
        for _ in range(2):
            t0 = time.time()
            # sink-forced like the DuckDB side's fetchall(): both sides
            # pay full materialization, the comparison is like-for-like
            execute_fully(qs[reg_key](spark, args.sf))
            st.append(time.time() - t0)
        nrows = qs[reg_key](spark, args.sf).count()
        print(
            f"| {bench_key} | {reg_key} | {min(dt):.3f} s | {st[0]:.2f} s "
            f"| {min(st):.2f} s | {nrows} |"
        )


if __name__ == "__main__":
    main()
