"""base_etl_spark — a PySpark-native batch + streaming analytics engine.

A from-scratch, Spark-first engine with the capability surface of the
reference ETL system (`smolinilya01/base_etl`; checkout unavailable, see
SURVEY.md §0 — capabilities reconstructed from driver metadata and the
measured fixtures), extended with LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) designed for
100 TB scale.

Architecture: everything is declared through the Spark SQL DataFrame API
so Catalyst/Tungsten own the physical plan. Custom operators (as-of join,
MinHash LSH, blocked similarity) are compositions of built-in operators;
Python executes only inside Arrow-batched pandas UDFs, never per row.
Frames built from rows held on the driver (centroids, merge tables,
run-log rows) go through `io.local_frame`: one Arrow table handed to the
JVM and planned as a `LocalTableScan`, so reading them starts no Python
worker.
"""

from base_etl_spark.session import build_session, execute_fully
from base_etl_spark.io import load_tables, Tables
from base_etl_spark.registry import REGISTRY, queries, oracle_sql

__all__ = ["build_session", "execute_fully", "load_tables", "Tables", "REGISTRY", "queries", "oracle_sql"]

__version__ = "0.1.0"
