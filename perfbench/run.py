"""Benchmark of the VaR engine: one workload, one client, closed loop.

    python3 perfbench/run.py --workload var_nightly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts the Spark session on
``local[<cores>]``, generates the inputs from ``--seed``, builds the
workload's tables and runs its warm-up operations. Then operations
repeat for ``--seconds`` seconds, two at least, and every output is
checked. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``. The line before it holds the
run's details, among them every warm-up op time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from tracing import NullTracer, Tracer, delta_counters, delta_log_state

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.market_features_s": "s",
    "plans.trailing_volatility_s": "s",
    "model.fit_ols_per_group_s": "s",
    "montecarlo.simulate_trials_s": "s",
    "model.score_s": "s",
    "plans.aggregate_var_s": "s",
    "plans.aggregate_var.country_s": "s",
    "plans.aggregate_var.industry_s": "s",
    "plans.aggregate_var.country_industry_s": "s",
    "plans.backtest_s": "s",
    "sources.read_delta_s": "s",
    "sources.write_delta_s": "s",
    "operators.merge_into_delta_native_s": "s",
    "sources.snapshot_s": "s",
    "delta.commits": "count",
    "delta.checkpoints": "count",
    "delta.files_added": "count",
    "delta.files_removed": "count",
    "delta.log_bytes": "bytes",
    "delta.bytes_written_per_user_byte": "ratio",
    "merge.rewrite_ratio": "ratio",
    "queries.near_dedup_survivors_s": "s",
    "operators.minhash_signatures_s": "s",
    "operators.minhash_lsh_pairs_s": "s",
    "operators.jaccard_verify_s": "s",
    "operators.connected_components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.lsh_precision": "ratio",
    "dedup.cc_rounds": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.cpu_util": "ratio",
    "trace.overhead_s": "s",
}
# per-layer figures taken from the plain ops of a traced run; every
# other one comes from the stage-by-stage traced ops
FROM_PLAIN_OPS = ("spark.", "delta.", "plans.build_s", "plans.exec_s",
                  "queries.near_dedup_survivors_s")

MIN_OPS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep the JVM's, Spark's and Python's scratch files in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _times(ts: list[float]) -> list[float | None]:
    """Op times for JSON: an op that raised (NaN) reads null."""
    return [t if t == t else None for t in ts]


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


class Runner:
    """Runs ops of one workload and keeps the tally of checked outputs."""

    def __init__(self, workload, tracer):
        self.wl = workload
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n = 0

    def run(self, traced: bool) -> tuple[float, dict]:
        """One op: untimed preparation, the timed op, then its check.
        Returns the op's wall time (NaN when it raised) and its
        per-layer figures (empty when untraced)."""
        self.n += 1
        self.attempted += 1
        self.wl.prepare(self.n)
        tables = self.wl.delta_tables()
        before = delta_log_state(tables)
        self.tr.start_op(f"{'traced' if traced else 'plain'}{self.n}")
        try:
            fn = self.wl.traced_op if traced else self.wl.op
            out, wall = timed(fn, self.tr)
        except Exception as e:  # an op that raises counts as failed
            self.tr.end_op()
            self._fail(f"op {self.n} raised {type(e).__name__}: {e}")
            return float("nan"), {}
        figures = self.tr.end_op()
        if figures:
            figures.update(delta_counters(before, delta_log_state(tables)))
        try:
            problem = self.wl.check(out)
        except Exception as e:
            problem = f"check raised {type(e).__name__}: {e}"
        if problem:
            self._fail(f"op {self.n}: {problem}")
        return wall, figures

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(msg, file=sys.stderr)


def per_layer(plain: list[dict], traced: list[dict], wl, session_s: float) -> dict:
    """Medians over ops of each per-layer figure; 0 for a layer the
    workload does not call."""
    def med(ops, key):
        vals = [f[key] for f in ops if key in f]
        return statistics.median(vals) if vals else 0.0

    out = {}
    for key in PER_LAYER:
        ops = plain if key.startswith(FROM_PLAIN_OPS) else traced
        out[key] = med(ops, key)
    out["session.get_spark_s"] = session_s
    written = out["delta.log_bytes"] + med(plain, "delta.data_bytes")
    user = wl.user_bytes()
    out["delta.bytes_written_per_user_byte"] = written / user if user else 0.0
    cand = out["dedup.candidate_pairs"]
    out["dedup.lsh_precision"] = out["dedup.verified_pairs"] / cand if cand else 0.0
    out["trace.overhead_s"] = med(traced, "op_s") - med(plain, "op_s")
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    import workloads
    from value_at_risk_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    isolate(work)
    spark, session_s = timed(get_spark, "perfbench", cores())
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, workloads.SIZES[args.size], work
        )
        _, inputs_s = timed(wl.setup)
        tracer = Tracer(spark, cores()) if args.trace else NullTracer()
        runner = Runner(wl, tracer)
        warmup = [runner.run(traced=False)[0] for _ in range(wl.warmup_ops)]
        setup_s = time.perf_counter() - t_setup

        op_s: list[float] = []
        plain: list[dict] = []
        traced: list[dict] = []
        t0 = time.perf_counter()
        while True:
            wall, figures = runner.run(traced=False)
            op_s.append(wall)
            plain.append(figures)
            if args.trace:
                traced.append(runner.run(traced=True)[1])
            # a traced run alternates plain and traced ops, one pair at least
            enough = args.trace or len(op_s) >= MIN_OPS
            if enough and time.perf_counter() - t0 >= args.seconds:
                break
        if args.trace:
            tracer.write(os.path.join(
                WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    good = [t for t in op_s if t == t]
    if args.trace:
        values = per_layer(plain, traced, wl, session_s)
        units = PER_LAYER
    else:
        p50 = statistics.median(good) if good else 0.0
        values = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "rows_per_s": wl.rows_per_op * len(good) / sum(good) if good else 0.0,
        }
        units = END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cores": cores(), "rows_per_op": wl.rows_per_op,
        "session_s": session_s, "inputs_s": inputs_s,
        "warmup_op_s": _times(warmup), "op_s": _times(op_s),
        "samples": len(good),
        "errors": runner.errors,
    }))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
