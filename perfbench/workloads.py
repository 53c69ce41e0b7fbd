"""The benchmark's workloads: which ops run, on which dataset, and why.

Each workload leans on a different layer of the engine, so a change to one
layer should move one workload and leave the others alone. See README.md
for the layer each one isolates and the metric each layer should move.
"""

from __future__ import annotations

from dataclasses import dataclass

BASE_SF = 0.01  # scale factor of the generated `base` dataset
# Scale factor of the dataset amplified into `x10`. At 0.01 (600k lineitem
# rows, one parquet row group) most stages ran one task, and warm pass
# times spread by more than a third across runs with other tenants' load;
# at 0.03 (1.8M rows, two row groups) by 13 to 18 %.
X10_SF = 0.03
SMOKE_SF = 0.001  # both datasets in --smoke


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # "base" or "x10" (see fixtures.ensure)
    keys: tuple[str, ...]  # registry keys, one op each
    backfill_dates: int = 0  # logical dates in the etl.run_range op; 0 = no such op


WORKLOADS = {
    w.name: w
    for w in [
        # scan, shuffle, join and aggregate work in Spark's executors
        Workload("analytics_x10", "x10", (
            "agg_pricing", "join_star_q5", "join_q9_profit", "join_q21_waiting",
        )),
        # driver-side plan construction, py4j round trips, driver loops,
        # file commits of a daily backfill and a streaming sink
        Workload("curation_etl", "base", (
            "tokenizer_bpe_train", "sink_ledger_census",
        ), backfill_dates=2),
    ]
}
