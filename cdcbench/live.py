"""``live_replica``: an open loop into ``replica://``.

A separate generator process publishes one seeded parquet file every
``INTERVAL_S`` (``ROWS_PER_FILE`` rows each: 1000 rows/s, well below
what the feed drains), and the changefeed runs with the default trigger,
one micro-batch taking every pending file.  Batches are small and
frequent, so this workload exposes the per-batch fixed cost.  Rows carry
no images and the sink encodes nothing, so per-row work is negligible.

A file's lag is timed from its due time to the end of the micro-batch
that contains it.  The file-to-batch mapping comes from the query's own
file-source log and the batch end from its progress record.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import harness as H

ROWS_PER_FILE = 250
INTERVAL_S = 0.25
#: micro-batches run before the measured window opens (JVM warm-up)
WARM_BATCHES = 4
#: input files (15k rows) the traced run's single-core drain takes
SINGLE_CORE_FILES = 60


class Generator:
    """The open-loop generator, run as its own process."""

    def __init__(self, seed: int, out_dir: str, report: str):
        self.out_dir, self.report = out_dir, report
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(H.BENCH_DIR, "gen.py"), "live",
             "--seed", str(seed), "--out", out_dir,
             "--rows", str(ROWS_PER_FILE), "--interval", str(INTERVAL_S),
             # the first file is due after the interpreter has started
             "--t0", repr(time.monotonic() + 0.5), "--report", report],
            stdout=subprocess.DEVNULL)

    def wait_first_file(self, timeout_s: float = 30.0) -> None:
        end = time.monotonic() + timeout_s
        while not any(f.endswith(".parquet") for f in os.listdir(self.out_dir)):
            if self.proc.poll() is not None or time.monotonic() > end:
                raise RuntimeError("the generator published no file")
            time.sleep(0.05)

    def stop(self) -> list[dict]:
        """Stop the generator; returns its per-file report."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        with open(self.report) as f:
            return json.load(f)


def _wait(query, cond, timeout_s: float, what: str) -> None:
    end = time.monotonic() + timeout_s
    while not cond():
        if query.exception() is not None or not query.isActive:
            raise RuntimeError(f"the feed stopped while waiting for {what}: "
                               f"{query.exception()}")
        if time.monotonic() > end:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.05)


def _batches_done(query) -> int:
    p = query.lastProgress
    return 0 if p is None else int(p["batchId"]) + 1


def setup(ctx, rep: int):
    """One set-up: a Changefeed over a fresh source and feed directory."""
    from tigate_spark.config import ChangefeedConfig
    from tigate_spark.streaming.changefeed import Changefeed

    root = os.path.join(ctx.work, f"live{rep}")
    os.makedirs(os.path.join(root, "src"))
    cfg = ChangefeedConfig(changefeed_id="live", sink_uri="replica://",
                           max_files_per_trigger=1_000_000)
    return Changefeed(ctx.spark, cfg, os.path.join(root, "src"),
                      os.path.join(root, "feed"))


def window_stats(batches, files, published, w0, w1, before: int):
    """Lag samples and delivered rate of the files due in [w0, w1), over
    the micro-batches with an id below ``before``."""
    end = {b.id: b.end for b in batches}
    lags = [(end[files[p["name"]]] - p["due"]) * 1e3 for p in published
            if w0 <= p["due"] < w1 and files[p["name"]] < before]
    inwin = sorted((b for b in batches
                    if w0 <= b.end <= w1 and b.id < before),
                   key=lambda b: b.id)
    rate = float("nan")
    if len(inwin) >= 2:
        rows = sum(b.rows for b in inwin[1:])
        rate = rows / (inwin[-1].end - inwin[0].end)
    return lags, rate


def backlog_max(batches, files, published) -> int:
    """Most files published before a trigger started and not yet taken by
    an earlier batch."""
    return max(sum(1 for p in published if p["published"] < b.start
                   and files[p["name"]] >= b.id) for b in batches)


def run(ctx, cf) -> dict:
    """Warm-up, the measured window (traced in a traced run, and then
    kept open until one compaction has run), then stop, map files to
    batches and check the replica."""
    from tigate_spark.streaming.sinks import read_replica

    import checks
    import gen

    tracer, state_bytes = ctx.tracer, []
    if ctx.trace:
        tracer.wrap(cf.sink, "process_batch", "sinks.process_batch")
        tracer.wrap(cf.bookkeeping, "record", "sinks.bookkeeping_record")
        tracer.wrap(cf.sink, "compact", "sinks.compact")
        inner = cf.sink.process_batch

        def sized(df, batch_id):
            inner(df, batch_id)
            if tracer.enabled:
                t = time.monotonic()
                state_bytes.append(H.dir_bytes(cf.sink.state_dir))
                tracer.self_s += time.monotonic() - t

        cf.sink.process_batch = sized
    generator = Generator(ctx.seed, cf.source_dir,
                          os.path.join(ctx.work, "gen.json"))
    try:
        generator.wait_first_file()
        with H.no_cache_left(ctx.spark, "live_replica feed"):
            off = H.wall_to_mono_offset()
            q = cf.start(available_now=False)
            try:
                _wait(q, lambda: _batches_done(q) >= WARM_BATCHES, 150,
                      "the warm-up batches")
                ctx.log("warm-up done")
                w0 = time.monotonic()
                w1 = t_end = w0 + ctx.seconds
                tracer.enabled = bool(ctx.trace)
                time.sleep(max(0.0, w1 - time.monotonic()))
                if ctx.trace:
                    _wait(q, lambda: tracer.durations_ms("sinks.compact"),
                          90, "a replica compaction")
                    t_end = time.monotonic()
                tracer.enabled = False
                ctx.log("window done")
                published = generator.stop()
                for p in published:
                    p["name"] = gen.live_file_name(p["k"])
                names = [p["name"] for p in published]
                ckpt = cf.checkpoint_dir

                def all_committed():
                    log = H.source_log(ckpt)
                    return (set(names) <= set(log)
                            and _batches_done(q) > max(log.values()))

                _wait(q, all_committed, 90, "the last files to commit")
            finally:
                q.stop()
            batches = H.executed_batches(q, off)
    finally:
        if generator.proc.poll() is None:
            generator.stop()
    files = H.source_log(cf.checkpoint_dir)
    paths = [os.path.join(cf.source_dir, n) for n in names]
    res = {"attempted": len(names), "failed": 0, "e2e": {}, "layers": {},
           "input_files": paths,
           "single_core_files": paths[:SINGLE_CORE_FILES]}
    ctx.check(res, len(names), "every file in one batch",
              lambda: checks.check_files_once(names, files))
    ctx.check(res, len(names), "replica state", lambda: checks.check_replica(
        read_replica(ctx.spark, cf.sink.state_dir).toPandas(), paths))
    # the measured window never holds the replica's periodic compaction,
    # which first runs in batch ``compact_every`` (the traced run
    # reports its cost)
    lags, rate = window_stats(batches, files, published, w0, w1,
                              cf.sink.compact_every)
    res["e2e"] = {"lag_p50_ms": H.pct(lags, 50), "lag_p90_ms": H.pct(lags, 90),
                  "delivered_rows_per_s": rate}
    res["samples"] = {"lag_files": len(lags), "batches": len(batches),
                      "gen_late_ms_max": max(p["late_ms"] for p in published)}
    if ctx.trace:
        traced = [b for b in batches if w0 <= b.start and b.end <= t_end]
        H.phase_spans(tracer, traced)
        pb = tracer.durations_ms("sinks.process_batch")
        compact = tracer.durations_ms("sinks.compact")
        res["layers"] = {
            **H.progress_metrics(traced),
            "changefeed.backlog_files.max": backlog_max(
                traced, files, published),
            "sinks.process_batch_ms.p50": H.pct(pb, 50),
            "sinks.process_batch_ms.max": max(pb),
            "sinks.sql_executions_per_batch": H.median(
                ctx.executions_per_batch(traced)),
            "sinks.bookkeeping_record_ms.p50": H.pct(
                tracer.durations_ms("sinks.bookkeeping_record"), 50),
            "sinks.compact.count": len(compact),
            "sinks.compact_ms.max": max(compact),
            "sinks.state_bytes.max": max(state_bytes),
            "gen.late_ms.max": max(p["late_ms"] for p in published),
            "trace.overhead_pct": 100.0 * tracer.self_s / (t_end - w0),
            "trace.unaccounted_pct.max": max(H.unaccounted_pct(traced)),
            **ctx.sql_layer(ctx.executions_between(traced[0].start,
                                                   traced[-1].end)),
        }
    return res
