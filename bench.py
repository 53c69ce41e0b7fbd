"""Headline benchmark: runs the representative queries from BASELINE.md
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Usage: python bench.py [NAME ...]

A NAME is a HEADLINE name or a registry key; the default is every
HEADLINE name. Any NAME is timed the same way, and the JSON's
``queries`` is keyed by the names given. Exit code 2 on an unknown name.

Each query runs three times through the no-op sink
(base_etl_spark.session.execute_fully), which materializes every
column; the reported number is the best (warm) run, matching
BASELINE.md's 'PySpark warm' column, which is the bench gate. One
untimed agg_pricing (q1) run comes before the first timed key.

Contention guard: before the first key the bench waits (bounded) for
the load average to drop below LOAD_THRESHOLD, and stamps the loadavg
into the JSON either way. Around each key's timed attempts it takes one
perfbench.host.Contention stamp: CPU-seconds the rest of the host used
in that window (host busy time minus this process tree). A key is dirty
when that reaches OTHER_CPU_BAR x the window's wall seconds. A key over
2x its anchor, or a dirty key over 1.5x, gets one retry after a settle
wait.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.host import Contention  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Start gate: wait up to LOAD_WAIT_SECS for the 1-min loadavg to drop
# below LOAD_THRESHOLD (and the 5-min one below twice that). loadavg
# decays with a 5-minute time constant, so draining from ~20 takes
# about 570 s on an otherwise idle box; the wait is free when the box
# is already quiet.
LOAD_THRESHOLD = 1.5
LOAD_WAIT_SECS = 900
# A key is dirty when other processes used at least this many CPUs on
# average over its timed window (two busy tasks' worth).
OTHER_CPU_BAR = 2.0


def _loadavg() -> tuple[float | None, float | None]:
    """(1-min, 5-min) load average."""
    try:
        with open("/proc/loadavg") as f:
            one, five = f.read().split()[:2]
        return float(one), float(five)
    except (OSError, ValueError):
        return None, None  # non-Linux: no guard, JSON carries null


def _is_dirty(load: float | None, load5: float | None) -> bool:
    if load is None:
        return False  # non-Linux: no guard signal at all
    return load > LOAD_THRESHOLD or (load5 or 0.0) > 2 * LOAD_THRESHOLD


def _wait_for_quiet(wait_secs: int) -> tuple[float | None, float | None, bool]:
    """Returns (loadavg_1min, loadavg_5min, timed_out). timed_out=True
    means the box never went quiet inside the deadline and the run
    proceeded anyway, so the JSON marks itself contaminated."""
    load, load5 = _loadavg()
    if load is None:
        return None, None, False
    deadline = time.time() + wait_secs
    while _is_dirty(load, load5) and time.time() < deadline:
        print(
            f"# load guard: loadavg 1-min {load:.2f} / 5-min {load5}"
            f" over ({LOAD_THRESHOLD}, {2 * LOAD_THRESHOLD})"
            f" — waiting for quiet box", file=sys.stderr,
        )
        time.sleep(15)
        load, load5 = _loadavg()
    return load, load5, _is_dirty(load, load5)


# bench key -> registry key (BASELINE.md shapes + LLM headliners). Each
# key's ≤2x anchor is in BASELINE.md, either "Measured baseline @ sf0.1"
# or one of the "Local anchors" tables (tools/record_baselines.py).
HEADLINE = {
    "q1": "agg_pricing",
    "q3": "topk_orders",
    "q5": "join_star_q5",
    "window_rank": "win_topk_per_group",
    "events_hourly": "stream_tumbling",
    "docs_tokens": "text_stats",
    "dedup_exact": "dedup_exact",
    "json_extract": "json_extract",
    "sim_topk": "sim_topk",
    "dedup_minhash": "dedup_near_minhash",
    "q9_profit": "join_q9_profit",
    "q21_waiting": "join_q21_waiting",
    "hybrid_rrf": "sim_hybrid_rrf",
    "dedup_spans": "dedup_spans",
    "bpe_train": "tokenizer_bpe_train",
    "matryoshka": "sim_recall_matryoshka",
    "source_matrix": "dedup_source_matrix",
    "ngram_novelty": "text_ngram_novelty",
    "silhouette": "sim_silhouette_label",
    "quality_survivor": "dedup_quality_survivor",
    "decile_lift": "agg_decile_lift",
    "fps_downsample": "mm_video_fps_downsample",
    "reconciliation": "etl_reconciliation_gate",
    "png_decode": "mm_image_png_decode",
    "ledger_census": "sink_ledger_census",
}

# PySpark-warm anchors from BASELINE.md (the ≤2x bench gate, per key),
# read by the per-key retry rule in main().
ANCHORS = {
    "q1": 1.08, "q3": 7.13, "q5": 24.10, "window_rank": 2.88,
    "events_hourly": 1.23, "docs_tokens": 0.45, "dedup_exact": 0.40,
    "json_extract": 0.52, "sim_topk": 1.32, "dedup_minhash": 2.23,
    "q9_profit": 0.73, "q21_waiting": 0.79, "hybrid_rrf": 1.03,
    "dedup_spans": 1.19, "bpe_train": 3.18, "matryoshka": 1.29,
    "source_matrix": 11.76, "ngram_novelty": 1.92, "silhouette": 1.04,
    "quality_survivor": 4.51, "decile_lift": 0.79,
    "fps_downsample": 0.62, "reconciliation": 1.63,
    "png_decode": 1.12, "ledger_census": 3.76,
}


def main(names: list[str] | None = None) -> int:
    from base_etl_spark import build_session, execute_fully, queries

    qs = queries()
    names = names or list(HEADLINE)
    unknown = [n for n in names if HEADLINE.get(n, n) not in qs]
    if unknown:
        print(f"unknown names: {unknown}", file=sys.stderr)
        return 2

    load_start, load5_start, wait_timed_out = _wait_for_quiet(LOAD_WAIT_SECS)
    spark = build_session(
        "bench",
        # keep stderr to the per-query lines: the stage progress bar
        # interleaves with them and reads like stalls in recorded logs
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # ERROR-only logs: the RRF/zipf rank legs run `WindowExec: No
    # Partition Defined` WARNs that are benign here (every such window
    # sits on a top-100/top-1000 bounded frame — inputs are capped by
    # TakeOrderedAndProject before the window; audited in
    # tests/test_plans.py) but bury real signal in the bench tail.
    spark.sparkContext.setLogLevel("ERROR")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    times: dict[str, float] = {}
    key_loads: dict[str, list[float | None]] = {}
    key_other_cpu: dict[str, float] = {}
    retried: list[str] = []
    dirty_keys: list[str] = []

    def _stamped_best_of_3(fn) -> tuple[list[float], float, bool]:
        """(attempt seconds, other tenants' CPU-s, dirty) for three runs
        (cold + 2 warm) under one contention stamp."""
        stamp = Contention([os.getpid()])
        t_start = time.time()
        attempts = []
        for _ in range(3):
            t0 = time.time()
            execute_fully(fn(spark, SF_DIR))
            attempts.append(time.time() - t0)
        other = stamp.other_cpu_s()
        return attempts, other, other >= OTHER_CPU_BAR * (time.time() - t_start)

    # one untimed query first, so the first timed key does not absorb
    # the JVM's warm-up (class loading, codegen, the first parquet scan)
    execute_fully(qs["agg_pricing"](spark, SF_DIR))
    for name in names:
        key = HEADLINE.get(name, name)
        fn = qs[key]
        key_loads[name] = list(_loadavg())
        attempts, other, dirty = _stamped_best_of_3(fn)
        key_other_cpu[name] = round(other, 3)
        if dirty:
            dirty_keys.append(name)
        anchor = ANCHORS.get(name)
        # Retry on a hard 2x breach, or on 1.5x when the key's stamp was
        # dirty: a settle wait and one retry clears a contended segment.
        if anchor is not None and (
            min(attempts) > 2 * anchor
            or (dirty and min(attempts) > 1.5 * anchor)
        ):
            # The retry's numbers and stamp replace the first ones only
            # if faster; both raw minima go to stderr for the log.
            print(
                f"# {name}: {round(min(attempts), 3)}s breaches 2x anchor"
                f" ({anchor}s) — settle wait + one retry", file=sys.stderr,
            )
            r1, r5, _ = _wait_for_quiet(min(LOAD_WAIT_SECS, 120))
            retry, r_other, r_dirty = _stamped_best_of_3(fn)
            print(
                f"# {name}: retry best {round(min(retry), 3)}s"
                f" (first {round(min(attempts), 3)}s)", file=sys.stderr,
            )
            if min(retry) < min(attempts):
                attempts = retry
                key_loads[name] = [r1, r5]
                key_other_cpu[name] = round(r_other, 3)
                if dirty and not r_dirty:
                    dirty_keys.remove(name)
            retried.append(name)
        n = fn(spark, SF_DIR).count()  # rows for the report line; untimed
        times[name] = round(min(attempts), 3)
        print(f"# {name} ({key}): {times[name]}s, {n} rows", file=sys.stderr)

    total = round(sum(times.values()), 3)
    load_end = _loadavg()[0]
    # Contaminated iff the box was dirty when we started (including a
    # timed-out quiet wait) OR any key's stamp was dirty.
    contaminated = (
        wait_timed_out
        or _is_dirty(load_start, load5_start)
        or bool(dirty_keys)
    )
    print(
        json.dumps(
            {
                "metric": "headline_warm_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "loadavg_start": load_start,
                "loadavg_5min_start": load5_start,
                "loadavg_end": load_end,
                "load_contaminated": contaminated,
                "load_wait_timed_out": wait_timed_out,
                "key_loadavg": key_loads,
                "key_other_cpu_s": key_other_cpu,
                "dirty_keys": dirty_keys,
                "retried_keys": retried,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
