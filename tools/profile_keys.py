"""Headline plan dumps.

Writes each headline key's .explain("formatted") output at
$SPARK_GRAFT_SF_DIR (default sf0.1) into DIR/<bench key>.txt. Per-key
timing is bench.py's job (``python bench.py NAME ...``).

Usage: python tools/profile_keys.py DIR
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dir", help="write headline plans into DIR")
    args = ap.parse_args()

    from base_etl_spark import build_session, queries
    from bench import HEADLINE

    spark = build_session(
        "profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    os.makedirs(args.dir, exist_ok=True)
    for bname, key in HEADLINE.items():
        df = qs[key](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.dir, f"{bname}.txt")
        with open(path, "w") as f:
            f.write(f"# {bname} ({key}) explain(formatted) @ {SF_DIR}\n")
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
