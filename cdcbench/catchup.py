"""``catchup``: a feed that has fallen behind drains a seeded backlog.

The backlog (``BACKLOG_FILES`` files of ``ROWS_PER_FILE`` changes,
disjoint event ids, strictly increasing commit ts) exists before the
feed starts.  One round drains it with ``availableNow`` through
``changelog://`` (canal-json, the Kafka stand-in) and then through
``sqlite://`` (4 lanes, the MySQL stand-in), each into a fresh feed.
Batches are large, so the fixed per-batch cost is amortized and the
per-row layers dominate: normalization with images, routing, encoding
and the lz4 write, and on ``sqlite://`` statement rendering and the
executor-side DBAPI apply.

A change's lag is the time from the start of its drain to the end of the
micro-batch that delivered it.
"""

from __future__ import annotations

import json
import math
import os
import time

import harness as H

BACKLOG_FILES = 2
ROWS_PER_FILE = 30_000
#: nominal length of one measured round on a 4-core host; a run measures
#: ceil(--seconds / ROUND_S) rounds, a fixed amount of work per setting
ROUND_S = 7.5
#: the untimed warm-up drains a smaller backlog of the same shape (the
#: first, compiling round), then the backlog itself once
WARM_ROWS = 20_000
SINKS = ("changelog://", "sqlite://")


class Drain:
    """One availableNow feed over ``src`` into ``uri``."""

    def __init__(self, ctx, src: str, uri: str, name: str,
                 files_per_batch: int = 1):
        from tigate_spark.config import ChangefeedConfig
        from tigate_spark.streaming.changefeed import Changefeed

        self.uri, self.name, self.src = uri, name, src
        self.start = time.monotonic()
        off = H.wall_to_mono_offset()
        cfg = ChangefeedConfig(changefeed_id=name, sink_uri=uri,
                               max_files_per_trigger=files_per_batch)
        self.cf = Changefeed(ctx.spark, cfg, src,
                             os.path.join(ctx.work, "drains", name))
        tracer = ctx.tracer
        if tracer.enabled:
            tracer.wrap(self.cf.sink, "process_batch",
                        f"sinks.process_batch.{uri.split(':')[0]}")
            tracer.wrap(self.cf.bookkeeping, "record",
                        "sinks.bookkeeping_record")
        with H.no_cache_left(ctx.spark, f"drain {name}"), \
                tracer.span(f"drain.{uri.split(':')[0]}"):
            q = self.cf.start(available_now=True)
            try:
                q.awaitTermination(170)
            finally:
                if q.isActive:
                    q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.end = time.monotonic()
        self.batches = H.executed_batches(q, off)
        self.rows = sum(b.rows for b in self.batches)
        if self.rows == 0:
            raise RuntimeError(f"drain {name} delivered nothing")
        self.state_bytes = H.dir_bytes(
            os.path.join(ctx.work, "drains", name))

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def check(self, ctx) -> None:
        """The drain's output against DuckDB over its source files."""
        import checks

        files = H.parquet_files(self.src)
        spark, sink = ctx.spark, self.cf.sink
        if self.uri.startswith("sqlite"):
            checks.check_sqlite_state(sink.read_state(spark).toPandas(), files)
        else:
            counts = dict(spark.read.parquet(sink.out_dir).groupBy("topic")
                          .count().collect())
            resolved = max(json.loads(r["message"])["ts"] for r in
                           spark.read.parquet(sink.checkpoint_dir).collect())
            checks.check_changelog(counts, resolved, files)


def setup(ctx, rep: int):
    """One set-up: write the backlog and the warm-up backlog."""
    import gen

    src = os.path.join(ctx.work, f"backlog{rep}")
    t = time.monotonic()
    gen.write_backlog(ctx.seed, src, BACKLOG_FILES, ROWS_PER_FILE)
    ctx.backlog_write_ms = (time.monotonic() - t) * 1e3
    gen.write_backlog(ctx.seed + 1, src + "-warm", 1, WARM_ROWS)
    return src


def _rounds(ctx, src: str, tag: str, n: int) -> list[Drain]:
    """``n`` rounds, each draining ``src`` through every sink once."""
    drains: list[Drain] = []
    for r in range(n):
        for uri in SINKS:
            drains.append(Drain(ctx, src, uri,
                                f"{tag}{r}-{uri.split(':')[0]}"))
        ctx.log("round " + ", ".join(f"{d.name} {d.seconds:.1f}s"
                                     for d in drains[-len(SINKS):]))
    return drains


def lag_pct(drains: list[Drain], q: float) -> float:
    """Mean over the drains of the q-th percentile of their changes' lag
    (row-weighted: a batch's end time stands for each of its rows)."""
    return H.mean([H.weighted_pct([(b.end - d.start) * 1e3
                                   for b in d.batches],
                                  [b.rows for b in d.batches], q)
                   for d in drains])


def rate(drains: list[Drain]) -> float:
    return sum(d.rows for d in drains) / sum(d.seconds for d in drains)


def sink_rate(drains: list[Drain], scheme: str) -> float:
    return rate([d for d in drains if d.uri.startswith(scheme)])


def run(ctx, src: str) -> dict:
    """Untimed warm-up rounds, then the measured rounds (traced in a
    traced run), then every drain's output check."""
    files = H.parquet_files(src)
    warm = (_rounds(ctx, src + "-warm", "cold", 1)
            + _rounds(ctx, src, "warm", 1))
    ctx.tracer.enabled = bool(ctx.trace)
    timed = _rounds(ctx, src, "r", math.ceil(ctx.seconds / ROUND_S))
    ctx.tracer.enabled = False
    ctx.log(f"{len(timed)} measured drains done")
    drains = warm + timed
    res = {"attempted": sum(d.rows for d in drains), "failed": 0,
           "e2e": {}, "layers": {}}
    for d in drains:
        ctx.check(res, d.rows, f"drain {d.name}",
                  lambda d=d: d.check(ctx))
    ctx.log("drains checked")
    res["e2e"] = {"lag_p50_ms": lag_pct(timed, 50),
                  "lag_p90_ms": lag_pct(timed, 90),
                  "delivered_rows_per_s": rate(timed)}
    res["samples"] = {"drains": len(timed),
                      "batches": sum(len(d.batches) for d in timed)}
    res["input_files"] = files
    res["single_core_files"] = files[:1]
    if ctx.trace:
        tr = ctx.tracer
        batches = [b for d in timed for b in d.batches]
        H.phase_spans(tr, batches)
        sq_batches = [b for d in timed if d.uri.startswith("sqlite")
                      for b in d.batches]
        pb = (tr.durations_ms("sinks.process_batch.changelog")
              + tr.durations_ms("sinks.process_batch.sqlite"))
        window = sum(d.seconds for d in timed)
        res["layers"] = {
            **H.progress_metrics(batches),
            "changefeed.backlog_files.max": max(
                len(d.batches) for d in timed),
            "sinks.process_batch_ms.p50": H.pct(pb, 50),
            "sinks.process_batch_ms.max": max(pb),
            "sinks.sql_executions_per_batch": H.median(
                ctx.executions_per_batch(batches)),
            "sinks.bookkeeping_record_ms.p50": H.pct(
                tr.durations_ms("sinks.bookkeeping_record"), 50),
            "sinks.compact.count": 0,
            "sinks.compact_ms.max": 0.0,
            "sinks.state_bytes.max": max(d.state_bytes for d in timed),
            "sqlite_apply.process_batch_ms.p50": H.pct(
                tr.durations_ms("sinks.process_batch.sqlite"), 50),
            "sqlite_apply.rows_per_s": sink_rate(timed, "sqlite"),
            "sqlite_apply.sql_executions_per_batch": H.median(
                ctx.executions_per_batch(sq_batches)),
            "drain.changelog_rows_per_s": sink_rate(timed, "changelog"),
            "drain.sqlite_rows_per_s": sink_rate(timed, "sqlite"),
            "gen.late_ms.max": ctx.backlog_write_ms,
            "trace.overhead_pct": 100.0 * tr.self_s / window,
            "trace.unaccounted_pct.max": max(H.unaccounted_pct(batches)),
            **ctx.sql_layer([i for d in timed for i in
                             ctx.executions_between(d.start, d.end)]),
        }
    return res
