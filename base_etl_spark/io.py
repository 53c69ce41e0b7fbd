"""Central loader: the ONLY supported way to read the fixture tables,
and the one way to turn rows held on the driver into a DataFrame
(`local_frame`).

Handles the ns-timestamp ingestion (FIXTURES.md gotcha 1) once, asserts
schemas against the footer, and registers every table as a temp view so
the SQL entry point (`spark.sql`) sees the same canonical tables as the
DataFrame API.

100 TB posture: this module is a thin veneer over `spark.read.parquet`
(vectorized reader, predicate pushdown, column pruning all intact). The
ns->us conversion is a single projected expression — it does not
materialize anything and stays inside whole-stage codegen.
"""

from __future__ import annotations

import datetime as dt
import os
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructType, TimestampType

from base_etl_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: runtime-settable SQL confs the loader depends on; applied defensively
#: so a session built elsewhere (e.g. the driver's harness) works too.
REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",  # events.ts hard-fails otherwise
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",  # one timestamp type
    "spark.sql.session.timeZone": "UTC",  # oracle parity
}


def ensure_confs(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, asserted + canonicalized (events.ts through
    `canonical_events`)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    schemas.assert_schema(name, df.schema)
    return canonical_events(df) if name == "events" else df


def events_ts_ns(raw_schema: StructType) -> bool:
    """Whether a raw events schema carries ts in the INT64 nanosecond
    layout — the one place that decides it.

    events.ts has shipped in two fixture generations: INT64
    TIMESTAMP(NANOS), which reads as LongType nanoseconds under
    nanosAsLong, and TIMESTAMP(MICROS), which Spark reads natively as
    TimestampType. Both layouts pass the drift gate
    (schemas.ALT_RAW_SCHEMAS); batch and stream readers alike ask this
    function which one they hold."""
    return isinstance(raw_schema["ts"].dataType, LongType)


def canonical_events(raw: DataFrame) -> DataFrame:
    """A raw events read (batch or stream) with ts as TimestampType. The
    nanosecond layout converts with integer `div` (not `/`: float
    division of ~1.7e18 ns loses precision beyond 2^53); the microsecond
    layout is already canonical."""
    if events_ts_ns(raw.schema):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def spread(df: DataFrame, col: str) -> DataFrame:
    """Hash-repartition `df` by `col` into one partition per core, ahead
    of a stage that is expensive per row (shingle/token explosion, vector
    projection, a media codec).

    The fixtures arrive as one small parquet file, i.e. ONE input
    partition, and running the expansion on it serializes the operator
    on a single task. The partition count is EXPLICIT because AQE
    coalesces a bare repartition(col) of a few MB back down to one
    post-shuffle partition (advisoryPartitionSizeInBytes is 64 MB),
    silently re-serializing the downstream per-row work; Spark skips
    that coalescing when the user names the count. At 100 TB the input
    is already many-partitioned and this coalesces nothing; keying by
    the id also co-locates each id's rows for a following per-id agg."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, col)


@dataclass
class Tables:
    """All ten canonical tables for one scale-factor directory.

    Attribute access (`t.lineitem`) returns the DataFrame; every table is
    also registered as a temp view, so `t.spark.sql("... from lineitem")`
    works identically.
    """

    spark: SparkSession
    sf_dir: str
    _dfs: dict[str, DataFrame] = field(default_factory=dict)

    def __post_init__(self) -> None:
        ensure_confs(self.spark)
        for name in schemas.TABLE_NAMES:
            df = read_table(self.spark, self.sf_dir, name)
            self._dfs[name] = df
            df.createOrReplaceTempView(name)

    def __getattr__(self, name: str) -> DataFrame:
        try:
            return self._dfs[name]
        except KeyError:
            raise AttributeError(name) from None

    def __getitem__(self, name: str) -> DataFrame:
        return self._dfs[name]


# Weak keys: a garbage-collected session's entries vanish with it, so a
# new session that happens to reuse the old object's id can never receive
# stale Tables (DataFrames bound to a stopped session).
_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[str, Tables]] = (
    weakref.WeakKeyDictionary()
)
# the sf_dir each session's temp views point at
_VIEWS_DIR: weakref.WeakKeyDictionary[SparkSession, str] = weakref.WeakKeyDictionary()


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> Tables:
    """Load (memoized per session+dir) all tables and register views.

    Temp views are session-global and last-writer-wins: loading a second
    sf_dir repoints the views, so a call re-registers its directory's
    views when the session's views point at another directory, and
    leaves them alone otherwise. Hold the returned Tables and use
    attribute access for multi-dir work; `spark.sql` always sees the
    most recently loaded directory.
    """
    sf_dir = os.path.abspath(sf_dir or DEFAULT_SF_DIR)
    per_session = _CACHE.setdefault(spark, {})
    if sf_dir not in per_session:
        per_session[sf_dir] = Tables(spark, sf_dir)
    elif _VIEWS_DIR.get(spark) != sf_dir:
        for name in schemas.TABLE_NAMES:
            per_session[sf_dir]._dfs[name].createOrReplaceTempView(name)
    _VIEWS_DIR[spark] = sf_dir
    return per_session[sf_dir]


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A DataFrame over rows held on the driver, planned as a JVM
    `LocalTableScan`.

    `spark.createDataFrame(<python list>)` pickles the rows into an RDD
    (`Scan ExistingRDD`), and every task that reads it starts a Python
    worker. This builds one `pyarrow.Table` in `ddl`'s types instead and
    hands it to the JVM as Arrow batches, so reading it stays in the JVM.

    `rows` are tuples (or Rows) in the schema's column order; `ddl` is a
    schema string such as ``"k int, name string"``. Naive datetimes keep
    `createDataFrame`'s meaning: process-local time.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = DataType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row needs {width} values for {ddl!r}")
    arrays = []
    for i, f in enumerate(schema.fields):
        values = [r[i] for r in rows]
        if isinstance(f.dataType, TimestampType):
            # naive -> process-local time, as TimestampType.toInternal reads it
            values = [None if v is None else v.astimezone(dt.timezone.utc) for v in values]
        arrays.append(pa.array(values, type=arrow_schema.field(i).type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def events_between(spark: SparkSession, sf_dir: str, start_us: int, end_us: int) -> DataFrame:
    """Event-time range scan with parquet pushdown intact.

    The canonical loader converts ts ns->us with an expression, which
    hides ts from parquet predicate pushdown — filtering the converted
    column scans every row group. This helper pushes the equivalent
    RAW-nanosecond bounds below the conversion so the reader skips row
    groups by min/max stats: the difference between scanning a day and
    scanning a year at 100 TB.

    Bounds are microseconds since epoch, [start_us, end_us).

    With the us-timestamp fixture layout the native TimestampType column
    is already pushdown-friendly, so the bounds become timestamp literals
    and no conversion is needed at all.
    """
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if events_ts_ns(raw.schema):
        lo, hi = F.lit(start_us * 1000), F.lit(end_us * 1000)
    else:
        lo, hi = F.timestamp_micros(F.lit(start_us)), F.timestamp_micros(F.lit(end_us))
    return canonical_events(raw.filter((F.col("ts") >= lo) & (F.col("ts") < hi)))
