"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet, then compares row count, column-name set, and the
order-insensitive multiset of type-tagged values — with both sides
materialized the way the driver does it (Spark rows through pandas
ns-datetimes, DuckDB through .df() so HUGEINT/DECIMAL->float64 coercions
are visible). A green here means the driver's value-hash matches.

Each key is judged by ``base_etl_spark.compare.check_key``; rows-only
keys run to check they do not crash, and their line carries the first 12
hex characters of ``perfbench.checks.rows_digest``, so two sweeps can be
diffed. ``--sf`` takes a fixture directory or the name of a generated
tier from ``tools/tiers.py`` (empty, empty_facts, one_row, fuzz,
fuzz_nulls), which is built first. Exit code 0 when no key fails, 1 when
one does, 2 on a bad argument.

Usage: python tools/check.py [key ...] [--sf DIR|TIER] [-v]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from base_etl_spark import build_session, queries  # noqa: E402
from base_etl_spark.compare import (  # noqa: E402
    FAIL, PASS, ROWS_ONLY, check_key, oracle_con,
)
from perfbench.checks import rows_digest  # noqa: E402
from tools.tiers import TIERS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--verbose", "-v", action="store_true")
    args = ap.parse_args()

    if args.sf in TIERS:
        sf = TIERS[args.sf]()
    elif os.path.isdir(args.sf):
        sf = args.sf
    else:
        print(f"--sf {args.sf!r} is neither a directory nor a tier "
              f"({', '.join(TIERS)})", file=sys.stderr)
        return 2
    qs = queries()
    keys = args.keys or list(qs)
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    # no progress bars: they would bury the FAIL lines in a stage's log
    spark = build_session("check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_con(sf)

    counts = dict.fromkeys((PASS, ROWS_ONLY, FAIL), 0)
    for k in keys:
        t0 = time.time()
        v = check_key(spark, con, k, sf)
        counts[v.status] += 1
        if v.status == PASS:
            print(f"PASS  {k}: {len(v.rows)} rows ({time.time()-t0:.1f}s)")
        elif v.status == ROWS_ONLY:
            print(f"rows  {k}: {len(v.rows)} rows (rows-only, {time.time()-t0:.1f}s)"
                  f" digest {rows_digest(v.rows)[:12]}")
        else:
            print(f"FAIL  {k}: " + " | ".join(v.problems))
            if args.verbose:
                print("  spark sample:", v.rows[:3])
                if v.oracle is not None:
                    print("  duck  sample:", v.oracle.head(3).to_dict("records"))

    print(f"\n{counts[PASS]} pass, {counts[ROWS_ONLY]} rows-only, "
          f"{counts[FAIL]} fail / {len(keys)} keys")
    return 1 if counts[FAIL] else 0


if __name__ == "__main__":
    sys.exit(main())
