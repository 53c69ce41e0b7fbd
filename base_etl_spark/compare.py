"""Result-set comparison used by tools/check.py and the pytest oracle
layer — a faithful local replica of the driver's correctness gate.

``check_key`` is the one judgement every sweep and oracle test makes: run
a key on Spark, run its oracle SQL on an ``oracle_con`` connection over
the same parquet, and compare with ``compare_strict``.

The driver materializes BOTH result sets through pandas before hashing,
which is stricter than naive python-tuple equality in two ways that each
cost a red row in a past round:

1. dtype strictness — DuckDB's ``.df()`` maps HUGEINT (``sum(int)``) and
   DECIMAL to float64, while Spark's longs stay int64. ``99111 ==
   99111.0`` in python, but int64 vs float64 hash differently (round-1
   text_fingerprint, round-2 json_extract). So the duck side here is the
   pandas frame from ``.df()``, never ``fetchall()`` (whose HUGEINT→int
   masks the coercion), and every cell is tagged with its type family —
   ("i", 6) never equals ("f", 6.0).
2. ns-datetime bounds — the driver converts Spark's collected datetime
   objects through pandas ``datetime64[ns]`` (max 2262-04-11); a
   9999-12-31 SCD2 sentinel crashes the harness before any comparison
   (round-2 etl_scd2). ``spark_to_pandas`` reproduces that conversion so
   the crash happens locally first.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

from base_etl_spark.registry import oracle_sql, queries
from base_etl_spark.schemas import TABLE_NAMES


def spark_to_pandas(cols: list[str], rows: list[tuple]) -> pd.DataFrame:
    """Emulate the driver's Spark-side materialization: a plain pandas
    DataFrame from collected row tuples, with datetime/date object columns
    forced through ns-precision ``pd.to_datetime`` (raises
    OutOfBoundsDatetime exactly where the driver would)."""
    df = pd.DataFrame(rows, columns=cols)
    for c in df.columns:
        if df[c].dtype == object:
            sample = next((v for v in df[c] if v is not None), None)
            if isinstance(sample, (dt.datetime, dt.date)):
                df[c] = pd.to_datetime(df[c])  # ns; raises on 9999-12-31
    return df


def _tag(v):
    """Normalize one cell to a (type-family, value) tuple. Families never
    compare equal across each other, so int-vs-float / decimal-vs-double
    drift fails here instead of in the driver."""
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("null",)  # pandas renders SQL NULL in float cols as NaN
        if f == 0.0:
            f = 0.0  # collapse -0.0
        return ("f", f)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_localize(None)
        return ("M", v.isoformat())
    if isinstance(v, dt.datetime):
        return ("M", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("M", dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, decimal.Decimal):
        # loud distinct family: a Decimal surviving to the compare means an
        # engine emitted DECIMAL where the other has DOUBLE — fix the query
        return ("dec", str(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_tag(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    return ("s", v) if isinstance(v, str) else ("o", repr(v))


def frame_to_multiset(df: pd.DataFrame) -> list[tuple]:
    order = sorted(df.columns)  # driver sorts columns by name before hashing
    cells = [df[c].tolist() for c in order]
    out = [tuple(_tag(col[i]) for col in cells) for i in range(len(df))]
    return sorted(out, key=repr)


def compare_strict(
    scols: list[str], srows: list[tuple], duck_df: pd.DataFrame
) -> list[str]:
    """Driver-grade comparison: Spark (cols, collected rows) vs the pandas
    frame from DuckDB's ``.df()``. Returns a list of problems (empty ==
    the driver's hash would match)."""
    problems: list[str] = []
    try:
        sdf = spark_to_pandas(scols, srows)
    except Exception as e:  # OutOfBoundsDatetime et al. — driver crashes here
        return [f"spark->pandas conversion failed (driver would crash): {e}"]
    dcols = list(duck_df.columns)
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns spark={sorted(scols)} oracle={sorted(dcols)}")
    if len(sdf) != len(duck_df):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(duck_df)}")
    if problems:
        return problems
    sm, dm = frame_to_multiset(sdf), frame_to_multiset(duck_df)
    if sm != dm:
        diffs = [(a, b) for a, b in zip(sm, dm) if a != b]
        problems.append(
            f"{len(diffs)} value diffs; first: {diffs[0] if diffs else '?'}"
        )
    return problems


PASS, ROWS_ONLY, FAIL = "pass", "rows-only", "fail"


@dataclass(frozen=True)
class KeyCheck:
    """One key's verdict. ``problems`` says why a FAIL failed: a Spark
    error, an oracle error, or ``compare_strict``'s problems."""

    status: str  # PASS, ROWS_ONLY or FAIL
    problems: list[str]
    cols: list[str]
    rows: list[tuple]  # Spark's collected rows; empty when Spark raised
    oracle: pd.DataFrame | None  # DuckDB's ``.df()``; None when not run


def oracle_con(sf_dir: str):
    """A DuckDB connection with one view per fixture table over the
    parquet files in ``sf_dir``."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def check_key(spark, con, key: str, sf_dir: str) -> KeyCheck:
    """Run ``key`` on Spark over ``sf_dir`` and, when it declares an
    oracle, that SQL on ``con`` (an ``oracle_con`` over the same
    directory), then compare the two with ``compare_strict``. A rows-only
    key passes as ROWS_ONLY once its rows are collected without an
    error."""
    try:
        sdf = queries()[key](spark, sf_dir)
        cols = sdf.columns
        rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # a sweep judges every key; report, don't stop
        return KeyCheck(FAIL, [f"spark error: {type(e).__name__}: {e}"], [], [], None)
    sql = oracle_sql().get(key)
    if sql is None:
        return KeyCheck(ROWS_ONLY, [], cols, rows, None)
    try:
        want = con.sql(sql).df()
    except Exception as e:
        return KeyCheck(FAIL, [f"oracle error: {type(e).__name__}: {e}"], cols, rows, None)
    problems = compare_strict(cols, rows, want)
    return KeyCheck(FAIL if problems else PASS, problems, cols, rows, want)
