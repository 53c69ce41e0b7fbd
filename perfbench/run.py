"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload curation_etl --seed 1 --seconds 20 --trace 0

Load model: closed loop, one client. The process builds the engine's
session on ``local[<cpus>]`` and runs the workload's ops back to back:

1. set up once: the engine's import (pyspark with it), ``build_session``,
   which launches the JVM, and the first ``load_tables``, timed as
   ``setup_s``. The process has not imported the engine before, so this
   is what a cron-launched job pays; fixture generation and the
   interpreter's own start are not in it;
2. one cold pass, timed as ``run.cold_pass_s``; after each op, outside
   the timed span, its output is checked (see checks.py). It is also the
   warm-up: no untimed pass follows;
3. timed passes until ``--seconds`` have passed and at least three ran.
   The last timed pass is checked like the cold pass. ``warm_pass_s``
   sums, over the ops, each op's fastest run in the timed passes: the
   host is shared, and a per-op minimum drops the passes another tenant
   slowed down. The number of timed passes, their median and highest
   time, and each op's time in each of them are printed next to it.
   With ``--trace 1`` the timed passes alternate untraced and traced
   (see tracer.py); the per-layer metrics are medians over the traced
   passes, and the tracing overhead is the traced ``warm_pass_s`` minus
   the untraced one, over the first two passes of each kind.

The seed fixes the op order of every pass and the backfill's logical
dates; the data is the same for every seed (see fixtures.py). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). Every metric is also printed above it, one per line.

``--smoke`` runs the same steps on sf0.001 data with the fewest passes;
``--record-digests`` records the rows digests of rows-only keys for the
current fixtures in expected.json instead of checking them.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
BACKFILL = "etl.run_range"

END_TO_END = {"setup_s": "s", "warm_pass_s": "s"}
PER_LAYER = {
    "run.cold_pass_s": "s", "run.peak_rss_mb": "MB",
    "session.build_s": "s", "io.first_load_s": "s",
    "io.load_tables_s": "s", "io.load_tables_calls": "count",
    "operators.build_s": "s", "py4j.build_calls": "count",
    "operators.build_jobs": "count", "operators.build_job_s": "s",
    "catalyst.plan_s": "s", "session.execute_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_wall_s": "s", "spark.gap_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_skew": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.output_mb": "MB", "streaming.batch_jobs": "count",
    "etl.date_s": "s", "etl.out_files": "count", "etl.out_mb": "MB",
    "iterstats.rounds": "count", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "host.other_cpu_s": "s", "bench.trace_overhead_s": "s", "bench.op_fail_frac": "ratio",
}


def configure_env(cpus: int) -> dict[str, str]:
    """Environment and static Spark confs that keep every file the run
    writes inside the checkout. Returns the session's extra confs."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in [ROOT, os.environ.get("PYTHONPATH")] if p),
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        "spark.local.dir": tmp,
        # C1 only, with low compile thresholds, so a run reaches steady
        # state within its warm-up. With C2 the passes kept getting faster
        # for 15 passes and more (6.8 s to 3.1 s on analytics_x10), so what
        # a run measured depended on how far the JIT got in it. C1 alone has
        # a 48 MB code cache, which these thresholds fill; a full cache
        # disables the compiler and then crashes the JVM.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(DATA, 'derby')} "
            "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 "
            "-XX:ReservedCodeCacheSize=240m",
    }


def backfill_dates(rng: random.Random, n: int) -> list[dt.date]:
    from fixtures import ORDER_DAY0, ORDER_DAYS

    return sorted(ORDER_DAY0 + dt.timedelta(days=d) for d in rng.sample(range(ORDER_DAYS + 1), n))


class Runner:
    """Runs passes of one workload's ops in one session."""

    def __init__(self, spark, wl, sf_dir, dates, checker, tag):
        import base_etl_spark
        from base_etl_spark import etl

        self.spark, self.wl, self.sf_dir, self.dates = spark, wl, sf_dir, dates
        self.checker, self.tag = checker, tag
        self.qs = base_etl_spark.queries()
        self.execute_fully = base_etl_spark.execute_fully
        self.run_range = etl.run_range
        self.n_pass = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.op_rows: list[dict] = []
        self.out_files = self.out_mb = 0.0
        self.check_s = 0.0  # time spent checking outputs, outside the timed spans

    def ops(self) -> list[str]:
        return list(self.wl.keys) + ([BACKFILL] if self.wl.backfill_dates else [])

    def run_pass(self, order: list[str], check: bool = False, tracer=None) -> dict:
        """One pass over ``order``. Returns each op's wall time and, when
        traced, the pass's per-layer sums."""
        sc = self.spark.sparkContext
        out_root = os.path.join(DATA, "out", f"{self.tag}-p{self.n_pass}")
        shutil.rmtree(out_root, ignore_errors=True)
        gc0 = tracer.jvm_begin() if tracer else 0.0
        op_s, recs, date_s = {}, [], []
        for i, op in enumerate(order):
            self.attempted += 1
            group = f"perfbench-{self.n_pass}-{i}"
            sc.setJobGroup(group, op)
            mark = tracer.begin(group) if tracer else None
            w0, t0 = time.time(), time.perf_counter()
            try:
                if op == BACKFILL:
                    df, result = None, self.run_range(
                        self.spark, self.sf_dir, self.dates,
                        os.path.join(out_root, "data"), os.path.join(out_root, "log"))
                else:
                    df, result = self.qs[op](self.spark, self.sf_dir), None
                t1 = time.perf_counter()
                py4j_build = tracer.py4j_calls if tracer else 0
                if df is not None:
                    self.execute_fully(df)
                t2 = time.perf_counter()
            except Exception:  # an op failure is counted, the run goes on
                self.fail(op, traceback.format_exc())
                continue
            op_s[op] = t2 - t0
            if result is not None:
                date_s += [r["duration_sec"] for r in result]
            if tracer:
                rec = tracer.end(mark, py4j_build, w0 + (t1 - t0), w0 + (t2 - t0))
                rec.update(op=op, pass_=self.n_pass, build_s=t1 - t0, execute_s=t2 - t1)
                recs.append(rec)
            if check:
                self.check(op, df, result, out_root)
        if self.wl.backfill_dates and self.n_pass == 0:
            files = [os.path.join(d, f) for d, _, fs in os.walk(out_root) for f in fs]
            self.out_files = len(files)
            self.out_mb = sum(os.path.getsize(f) for f in files) / 2**20
        shutil.rmtree(out_root, ignore_errors=True)
        self.n_pass += 1
        self.op_rows += recs
        res = {"op_s": op_s}
        if tracer:
            res.update(layer_sums(recs), **{
                "etl.date_s": statistics.median(date_s) if date_s else 0.0,
                "jvm.gc_s": tracer.gc_s() - gc0,
                "jvm.heap_peak_mb": tracer.heap_peak_mb(),
            })
        return res

    def check(self, op: str, df, result, out_root: str) -> None:
        t0 = time.perf_counter()
        try:
            if op == BACKFILL:
                problems = self.checker.backfill(os.path.join(out_root, "data"), self.dates, result)
            else:
                problems = self.checker.key(op, df.columns, [tuple(r) for r in df.collect()])
        except Exception:  # a check that cannot run is a failed check
            problems = [traceback.format_exc()]
        if problems:
            self.fail(op, "; ".join(problems))
        self.check_s += time.perf_counter() - t0

    def fail(self, op: str, why: str) -> None:
        self.failures.append(op)
        print(f"perfbench: FAILED {op} (pass {self.n_pass}): {why}", file=sys.stderr)


def best_of(passes: list[dict]) -> float:
    """Sum over ops of each op's fastest run in ``passes``."""
    ops = {op for p in passes for op in p["op_s"]}
    return sum(min(p["op_s"][op] for p in passes if op in p["op_s"]) for op in ops)


def layer_sums(recs: list[dict]) -> dict[str, float]:
    def s(field):
        return sum(r[field] for r in recs)

    return {
        "io.load_tables_s": s("io_s"),
        "io.load_tables_calls": s("io_calls"),
        "operators.build_s": s("build_s") - s("io_s"),
        "py4j.build_calls": s("py4j_build_calls"),
        "operators.build_jobs": s("build_jobs"),
        "operators.build_job_s": s("build_job_s"),
        "catalyst.plan_s": s("plan_s"),
        "session.execute_s": s("execute_s"),
        "spark.jobs": s("jobs"),
        "spark.stages": s("stages"),
        "spark.tasks": s("tasks"),
        "spark.job_wall_s": s("job_wall_s"),
        "spark.gap_s": s("gap_s"),
        "spark.task_run_s": s("task_run_s"),
        "spark.task_cpu_s": s("task_cpu_s"),
        "spark.task_skew": max((r["task_skew"] for r in recs), default=1.0),
        "spark.shuffle_write_mb": s("shuffle_write_mb"),
        "spark.shuffle_read_mb": s("shuffle_read_mb"),
        "spark.spill_mb": s("spill_mb"),
        "spark.output_mb": s("output_mb"),
        "streaming.batch_jobs": s("batch_jobs"),
        "iterstats.rounds": s("rounds"),
    }


def setup_once(conf: dict[str, str], sf_dir: str):
    """The engine's import + build_session + the first load_tables, in a
    process that has not imported the engine yet: (spark, build_s, load_s).
    build_s includes the import and the JVM launch."""
    t0 = time.perf_counter()
    from base_etl_spark import build_session, load_tables

    spark = build_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    load_tables(spark, sf_dir)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, then wait for every process they
    started (the JVM and its Python worker daemon) to end."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    pids = host.tree([jvm_pid])
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in pids:
        while host.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if host.alive(pid):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "base_etl_spark", "__init__.py")):
        print(f"perfbench: no base_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import checks
    import fixtures
    import host
    from workloads import BASE_SF, SMOKE_SF, WORKLOADS, X10_SF

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    smoke = args.smoke
    sfs = (SMOKE_SF, SMOKE_SF) if smoke else (BASE_SF, X10_SF)
    min_passes = 1 if smoke else 3
    min_traced = max(1, min_passes - 1)

    t0 = time.perf_counter()
    paths, built_s = fixtures.ensure(DATA, *sfs)
    sf_dir = paths[wl.data]
    fp = fixtures.fingerprint(*sfs)
    print(f"perfbench: fixtures {fp} " + (f"built in {built_s:.2f} s" if built_s else "cached")
          + f" ({time.perf_counter() - t0:.2f} s)")

    conf = configure_env(len(os.sched_getaffinity(0)))
    rng = random.Random(args.seed)
    dates = backfill_dates(rng, wl.backfill_dates)
    spark = None
    try:
        spark, build_s, load_s = setup_once(conf, sf_dir)
        import base_etl_spark

        checker = checks.Checker(sf_dir, f"{fp}/{wl.data}", base_etl_spark.oracle_sql(),
                                 record=args.record_digests)
        runner = Runner(spark, wl, sf_dir, dates, checker,
                        f"{wl.name}-{args.seed}")
        ops = runner.ops()

        def order() -> list[str]:
            rng.shuffle(ops)
            return list(ops)

        cold = sum(runner.run_pass(order(), check=True)["op_s"].values())

        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
        roots = [os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()]
        contention = host.Contention(roots)
        plain, traced = [], []
        t_start = t_pass = time.perf_counter()
        pass_wall = 0.0
        while True:
            use_trace = tracer is not None and len(traced) < len(plain)
            # The pass expected to end the window is the last one, and its
            # outputs are checked like the cold pass's, so the repeat-call
            # path that warm_pass_s times is checked too.
            last = (t_pass - t_start + pass_wall >= args.seconds
                    and len(plain) + (not use_trace) >= min_passes
                    and (tracer is None or len(traced) + use_trace >= min_traced))
            if use_trace:
                tracer.install()
            try:
                res = runner.run_pass(order(), check=last, tracer=tracer if use_trace else None)
            finally:
                if use_trace:
                    tracer.uninstall()
            (traced if use_trace else plain).append(res)
            now = time.perf_counter()
            pass_wall, t_pass = now - t_pass, now
            if last:
                break
        checker.close()
        window_s = time.perf_counter() - t_start
        other_cpu_s = contention.other_cpu_s()
        rss_mb = host.peak_rss_mb(roots)
    finally:
        if spark is not None:
            stop_jvm(spark)

    warm = best_of(plain)
    e2e = {"setup_s": build_s + load_s, "warm_pass_s": warm}
    failed = len(runner.failures)
    layers = {}
    if tracer:
        layers = {k: statistics.median(r[k] for r in traced) for k in traced[0] if k != "op_s"}
        layers.update({
            "run.cold_pass_s": cold,
            "run.peak_rss_mb": rss_mb,
            "session.build_s": build_s,
            "io.first_load_s": load_s,
            "etl.out_files": runner.out_files,
            "etl.out_mb": runner.out_mb,
            "host.other_cpu_s": other_cpu_s,
            "bench.trace_overhead_s": best_of(traced[:min_traced]) - best_of(plain[:min_traced]),
            "bench.op_fail_frac": failed / runner.attempted,
        })
        os.makedirs(os.path.join(DATA, "trace"), exist_ok=True)
        with open(os.path.join(DATA, "trace", f"{wl.name}-seed{args.seed}.jsonl"), "w") as f:
            for row in runner.op_rows:
                f.write(json.dumps(row) + "\n")

    plain_s = [sum(r["op_s"].values()) for r in plain]
    print(f"perfbench: workload={wl.name} seed={args.seed} dates={[d.isoformat() for d in dates]} "
          f"passes_s plain={[round(x, 3) for x in plain_s]} "
          f"traced={[round(sum(r['op_s'].values()), 3) for r in traced]} "
          f"cold_pass_s={cold:.3f} check_s={runner.check_s:.2f} peak_rss_mb={rss_mb:.0f}")
    print(f"perfbench: warm_pass_s={warm:.3f} over {len(plain_s)} timed passes, "
          f"pass median={statistics.median(plain_s):.3f} highest={max(plain_s):.3f}")
    print("perfbench: op_s by timed pass " + json.dumps(
        {op: [round(p["op_s"][op], 3) for p in plain if op in p["op_s"]] for op in sorted(runner.ops())}))
    print(f"perfbench: contention other_cpu_s={other_cpu_s:.2f} over window_s={window_s:.2f}")
    for name, value in {**e2e, **layers}.items():
        unit = END_TO_END.get(name) or PER_LAYER[name]
        print(f"metric {name} {value:.6g} {unit}")
    shown, units = (layers, PER_LAYER) if tracer else (e2e, END_TO_END)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
