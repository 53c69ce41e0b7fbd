"""Output checks, run outside the timed window.

- Keys with an oracle: DuckDB runs the key's `oracle_sql()` over the same
  parquet files and `base_etl_spark.compare.compare_strict` compares.
- Rows-only keys: a digest of the sorted rows, recorded in
  `expected.json` for the fixture fingerprint it was taken on.
- The backfill: its partitions are read back and compared with DuckDB's
  version of `etl.daily_order_summary` for the same dates.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

DAILY_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
       count(l_linenumber) AS n_lines,
       round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0.0), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS ds
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
WHERE CAST(o_orderdate AS DATE) IN ({dates})
GROUP BY o_orderkey, o_custkey, o_orderdate, o_orderstatus
"""


def _load_expected() -> dict:
    try:
        with open(EXPECTED) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()


class Checker:
    def __init__(self, sf_dir: str, fingerprint: str, oracle_sql: dict[str, str],
                 record: bool = False):
        self.con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self.fingerprint = fingerprint
        self.oracle_sql = oracle_sql
        self.record = record
        self.expected = _load_expected().get(fingerprint, {})

    def close(self) -> None:
        """Close DuckDB; in record mode, save the digests taken."""
        self.con.close()
        if self.record:
            everything = _load_expected()
            everything[self.fingerprint] = self.expected
            with open(EXPECTED, "w") as f:
                json.dump(everything, f, indent=1, sort_keys=True)
                f.write("\n")

    def key(self, key: str, cols: list[str], rows: list[tuple]) -> list[str]:
        """Problems with one key's output; empty when it is correct."""
        from base_etl_spark.compare import compare_strict

        if key in self.oracle_sql:
            return compare_strict(cols, rows, self.con.sql(self.oracle_sql[key]).df())
        got = rows_digest(rows)
        if self.record:
            self.expected[key] = got
            return []
        want = self.expected.get(key)
        if want is None:
            return [f"no recorded digest for {key} on fixture {self.fingerprint}"]
        return [] if got == want else [f"rows digest {got[:12]} != recorded {want[:12]}"]

    def backfill(self, out_dir: str, dates: list[dt.date], records: list[dict]) -> list[str]:
        """Problems with one backfill's partitions and run records."""
        from base_etl_spark.compare import compare_strict

        problems = [f"{r['ds']}: {r['status']} {r['error']}" for r in records
                    if r["status"] != "success"]
        day_list = ", ".join(f"DATE '{d.isoformat()}'" for d in dates)
        want = self.con.sql(DAILY_SQL.format(dates=day_list)).df()
        files = glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
        if files:
            got = self.con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/**/*.parquet', "
                "hive_partitioning = true, hive_types_autocast = false)"
            ).df()
        else:
            got = want.iloc[0:0]
        rows = list(got.itertuples(index=False, name=None))
        problems += compare_strict(list(got.columns), rows, want)
        if sum(r["rows"] for r in records) != len(want):
            problems.append(f"run records count {sum(r['rows'] for r in records)} rows, "
                            f"oracle {len(want)}")
        return problems
