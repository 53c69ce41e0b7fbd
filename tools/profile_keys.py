"""Per-key timing and plan dumps.

Times registry keys at $SPARK_GRAFT_SF_DIR (default sf0.1) through the
noop sink (best of --runs), or writes each headline key's
.explain("formatted") output into a directory.

Usage:
    python tools/profile_keys.py --keys q1 q3 ...      # bench-name or registry-key
    python tools/profile_keys.py --all                 # every registry key
    python tools/profile_keys.py --plans plans/before  # headline plans -> plans/before/<bench key>.txt
    python tools/profile_keys.py --runs 3              # best-of-N for --keys
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", nargs="*", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR", default=None,
                    help="write headline plans into DIR instead of timing")
    ap.add_argument("--out", default=None, help="write JSON results here")
    args = ap.parse_args()

    from base_etl_spark import build_session, execute_fully, queries
    from bench import HEADLINE

    spark = build_session(
        "profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for bname, key in HEADLINE.items():
            df = qs[key](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.plans, f"{bname}.txt")
            with open(path, "w") as f:
                f.write(f"# {bname} ({key}) explain(formatted) @ {SF_DIR}\n")
                f.write(txt)
            print(f"wrote {path}", file=sys.stderr)
        return

    names = list(qs) if args.all else (args.keys or list(HEADLINE))
    results: dict[str, float] = {}
    for name in names:
        key = HEADLINE.get(name, name)  # bench names resolve to registry keys
        if key not in qs:
            print(f"!! unknown key {name}", file=sys.stderr)
            continue
        fn = qs[key]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        attempts = []
        for _ in range(args.runs):
            t0 = time.time()
            execute_fully(fn(spark, SF_DIR))
            attempts.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        results[name] = round(min(attempts), 3)
        print(
            f"# {name} ({key}): best {results[name]}s of {[round(a, 3) for a in attempts]}",
            file=sys.stderr,
        )
    total = round(sum(results.values()), 3)
    line = json.dumps({"total": total, "keys": results, "sf_dir": SF_DIR, "runs": args.runs})
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
