#!/usr/bin/env python3
"""Changefeed benchmark: replication lag under live load and catch-up
throughput, with a traced run that splits both by layer.

    python3 cdcbench/run.py --workload live_replica --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``
inside ``.cdcbench-work/`` (removed at exit); the engine is reached only
through its public entry points.  Every run checks the engine's output
against DuckDB oracles outside the timed region, and checks that no
timed pass leaves a persisted RDD behind.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it carries
the run's context (host, Spark version, program version, loadavg,
sample counts).  See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO_ROOT]

import harness as H  # noqa: E402

WORKLOADS = ("live_replica", "catchup")
#: set-ups per run; setup_s is their median
SETUP_REPS = 5

E2E_UNITS = {
    "setup_s": "s",
    "lag_p50_ms": "ms",
    "lag_p90_ms": "ms",
    "delivered_rows_per_s": "1/s",
}


class Context:
    """What a workload needs: the session, its scratch directory, the
    run's seed and window, the tracer, and the helpers that turn checks
    and Spark's own records into results."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.work = work
        self.cpus = H.nproc()
        self.tracer = H.Tracer(enabled=False)
        self.spark = None
        self.get_spark_s: list[float] = []
        self.failures: list[str] = []
        self.t0 = time.monotonic()
        self.peak_rss_mb = 0.0

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since the run began."""
        print(f"[{time.monotonic() - self.t0:7.1f}s] {msg}", file=sys.stderr,
              flush=True)

    def restart(self, cpus: int | None = None) -> None:
        if self.spark is not None:
            self.peak_rss_mb = max(self.peak_rss_mb, H.peak_rss_mb(self.spark))
        self.spark, dt = H.start_session(self.work, cpus or self.cpus,
                                         self.spark)
        self.get_spark_s.append(dt)

    def check(self, res: dict, n_ops: int, what: str, fn) -> None:
        """Run one output check; a failure fails the ``n_ops``
        operations it covers."""
        try:
            fn()
        except H.CheckFailed as e:
            res["failed"] = min(res["attempted"], res["failed"] + n_ops)
            self.failures.append(f"{what}: {e}")

    # -- Spark SQL executions, placed on the monotonic clock ---------------
    def _executions(self) -> list[tuple[int, float]]:
        ss = self.spark._jsparkSession.sharedState().statusStore()
        off = H.wall_to_mono_offset()
        it = ss.executionsList().iterator()
        out = []
        while it.hasNext():
            e = it.next()
            out.append((int(e.executionId()), e.submissionTime() / 1e3 - off))
        return out

    def executions_between(self, t0: float, t1: float) -> list[int]:
        return [i for i, t in self._executions() if t0 <= t <= t1]

    def executions_per_batch(self, batches) -> list[int]:
        ex = self._executions()
        return [sum(1 for _, t in ex if b.start <= t <= b.end)
                for b in batches]

    def sql_layer(self, ids) -> dict:
        """The ``sql.*`` per-layer metrics of the given executions."""
        m = H.sql_metrics(self.spark, ids)
        return {"sql.executions": m.executions,
                **{f"sql.node_ms.{k}": v for k, v in m.node_ms.items()},
                "sql.exchange_bytes": m.exchange_bytes,
                "sql.spill_bytes": m.spill_bytes}


def work_dir() -> str:
    """This run's scratch directory, inside the checkout."""
    return os.path.join(REPO_ROOT, ".cdcbench-work", f"run-{os.getpid()}")


def per_layer_names() -> list[str]:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def run(args) -> dict:
    import layers

    module = {"live_replica": "live", "catchup": "catchup"}[args.workload]
    wl = __import__(module)
    work = work_dir()
    os.makedirs(work)
    H.prepare_env(work)
    ctx = Context(args, work)
    load0 = os.getloadavg()
    try:
        setup_s, target = [], None
        for rep in range(SETUP_REPS):
            t = time.monotonic()
            ctx.restart()
            target = wl.setup(ctx, rep)
            setup_s.append(time.monotonic() - t)
        res = wl.run(ctx, target)
        stamp = H.run_stamp(ctx.spark)
        if args.trace:
            res["layers"].update(layers.common(ctx, res))
            res["layers"]["session.get_spark_s"] = H.median(ctx.get_spark_s)
            res["layers"]["mem.peak_rss_mb"] = ctx.peak_rss_mb
        res["e2e"]["setup_s"] = H.median(setup_s)
        if ctx.trace:
            ctx.tracer.dump(os.path.join(
                os.path.dirname(work),
                f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        if ctx.spark is not None:
            ctx.peak_rss_mb = max(ctx.peak_rss_mb, H.peak_rss_mb(ctx.spark))
            H.stop_jvm(ctx.spark)
    stamp.update(workload=args.workload, seed=args.seed,
                 seconds=args.seconds, trace=args.trace,
                 loadavg_before=load0, loadavg_after=os.getloadavg(),
                 setup_runs_s=setup_s, samples=res.get("samples", {}),
                 check_failures=ctx.failures)
    res["stamp"] = stamp
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO_ROOT,
                                      "tigate_spark")):
        print("cdcbench: run it from a checkout of the repository "
              "(tigate_spark/ not found next to cdcbench/)", file=sys.stderr)
        return 2
    try:
        res = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work_dir(), ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work_dir()))
    if args.trace:
        names = per_layer_names()
        metrics = {n: res["layers"].get(n, float("nan")) for n in names}
        units = {m["name"]: m["unit"] for m in json.load(open(os.path.join(
            REPO_ROOT, "BENCHMARK.json")))["per_layer"]}
    else:
        metrics = {n: res["e2e"].get(n, float("nan")) for n in E2E_UNITS}
        units = E2E_UNITS
    for name, v in metrics.items():
        print(f"{name} = {v} {units[name]}")
    # a metric that could not be measured is left out, which fails the run
    metrics = {n: v for n, v in metrics.items() if math.isfinite(v)}
    correct = res["failed"] == 0 and len(metrics) == len(units)
    print(json.dumps(res["stamp"]))
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(v), "unit": units[n]}
                    for n, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
