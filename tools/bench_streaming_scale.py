#!/usr/bin/env python
"""Streaming 10x scale probe: per-micro-batch wall-clock FLATNESS.

bench_streaming.py pins end-to-end rows/s at 1M changes; this tool pins
the claim behind the replica sink's 100 TB posture — per-batch driver
work is O(touched tables), so per-micro-batch wall-clock must stay FLAT
as the stream gets 10x longer (40 micro-batches instead of 4 at the
SAME per-batch row count). A growing per-batch curve would mean
accumulated state or lineage leaks into every batch (the failure mode
the merge-on-read ReplicaSink design explicitly avoids: each batch
writes only its own per-key winners as a fresh delta version v=<n> plus
one driver-written commit record, reading neither the stored state nor
the manifest — ``ReplicaSink.process_batch`` in streaming/sinks.py). The
periodic compaction (every ``compact_every`` commits) folds the whole
state and is the one batch kind whose cost grows with the state.

Drives the FULL changefeed (source → normalize/filter → replica merge)
at 1M changes / 4 batches and 10M changes / 40 batches, ~250k rows per
batch in both runs, and reports per-batch durations from the streaming
progress log. Prints one JSON line per scale:

  {"scale": "10M", "batches": 40, "rows": 10000000, "sec": ...,
   "rows_per_sec": ..., "batch_ms": [...], "head_mean_ms": ...,
   "tail_mean_ms": ..., "flatness": tail/head}

flatness ~1.0 = per-batch cost independent of stream position. Not
driver-run (bench.py is the contract); this pins the BASELINE.md
streaming-scale row reproducibly.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tigate_spark.config import ChangefeedConfig  # noqa: E402
from tigate_spark.session import get_spark  # noqa: E402
from tigate_spark.streaming.changefeed import Changefeed  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_source(spark, out_dir: str, copies: int, n_files: int) -> int:
    """sf0.1 events replicated with disjoint event_id ranges; n_files
    parquet files → n_files micro-batches at maxFilesPerTrigger=1."""
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    n = ev.count()
    if copies > 1:
        # crossJoin against a range, not a union chain: the 100M tier
        # needs 1000 copies and a 1000-way union is an analyzer-melting
        # plan; the row set is identical (repartition reshuffles anyway)
        big = (ev.crossJoin(spark.range(copies)
                            .withColumnRenamed("id", "_copy"))
               .withColumn("event_id",
                           F.col("event_id") + F.col("_copy") * F.lit(n))
               .drop("_copy"))
    else:
        big = ev
    big.repartition(n_files).write.mode("overwrite").parquet(out_dir)
    return n * copies


def run_scale(spark, label: str, copies: int, n_files: int,
              sink: str = "replica") -> dict:
    """sink: replica | changelog | file | sqlite. changelog pins the
    canal-json encode + routing path; file pins the K7 dated-tree storage
    sink, where per-batch FILE-COUNT growth (not state) is the flatness
    risk; sqlite pins the executable writer loop, where accumulated
    downstream DB size is the risk (REPLACE INTO against a 2.5M-row lane
    DB at batch 40 must cost what it does against an empty one)."""
    from tigate_spark.config import SinkConfig

    src = tempfile.mkdtemp(prefix=f"tigate-sscale-src-{label}-")
    work = tempfile.mkdtemp(prefix=f"tigate-sscale-work-{label}-")
    try:
        total = build_source(spark, src, copies, n_files)
        # a sink token may carry URI query tuning, e.g.
        # "sqlite?worker-count=8" -> sqlite://?worker-count=8; the
        # special token "redo" = replica with the consistent-level WAL
        # on, for measuring the redo log's per-batch overhead
        scheme, _, query = sink.partition("?")
        redo = scheme == "redo"
        if redo:
            scheme = "replica"
        uri = f"{scheme}://" + (f"?{query}" if query else "")
        sink_cfg = SinkConfig(protocol="csv") if scheme == "file" \
            else SinkConfig()
        cid = f"sscale-{scheme}-{label}"
        cfg = ChangefeedConfig(changefeed_id=cid,
                               sink_uri=uri, sink=sink_cfg)
        if scheme == "sqlite":
            # r12: measure the executable writer WITH the r11 tidb_cdc
            # bookkeeping lanes live — syncpoint ticks (reference default
            # hourly interval) mirrored onto the downstream so the
            # flatness curve includes the syncpoint_v1 write path
            cfg.enable_sync_point = True
        if redo:
            from tigate_spark.config import ConsistentConfig

            cfg.consistent = ConsistentConfig(
                level="eventual", storage=os.path.join(work, "redo"))
        cf = Changefeed(spark, cfg, src, work)
        # replica disk curve: the compaction claim is that superseded
        # v=<n> dirs are actually reclaimed, so on-disk state PLATEAUS
        # as the stream gets longer instead of growing one version per
        # batch. Record state-dir bytes after every micro-batch.
        state_mb: list[float] = []
        state_dir = getattr(cf.sink, "state_dir", None)
        if scheme == "replica" and state_dir:
            orig_pb = cf.sink.process_batch

            def sized_pb(batch_df, batch_id):
                orig_pb(batch_df, batch_id)
                total = 0
                for root, _dirs, files in os.walk(state_dir):
                    for fn in files:
                        try:
                            total += os.path.getsize(os.path.join(root, fn))
                        except OSError:
                            pass
                state_mb.append(round(total / 1e6, 1))

            cf.sink.process_batch = sized_pb
        t0 = time.monotonic()
        q = cf.start(available_now=True)
        progresses: list[dict] = []
        try:
            while q.isActive:
                q.awaitTermination(1)
                for p in q.recentProgress[len(progresses):]:
                    progresses.append(p)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        dt = time.monotonic() - t0
        for p in q.recentProgress[len(progresses):]:
            progresses.append(p)
        batch_ms = [
            int(p["durationMs"]["triggerExecution"])
            for p in progresses if p.get("numInputRows", 0) > 0
        ]
        k = max(3, len(batch_ms) // 10)
        head = sum(batch_ms[:k]) / k if batch_ms else 0
        tail = sum(batch_ms[-k:]) / k if batch_ms else 0
        out = {
            "sink": sink,
            "scale": label,
            "batches": len(batch_ms),
            "rows": total,
            "sec": round(dt, 2),
            "rows_per_sec": int(total / dt),
            "batch_ms": batch_ms,
            "head_mean_ms": round(head),
            "tail_mean_ms": round(tail),
            "flatness": round(tail / head, 2) if head else None,
        }
        if state_mb:
            out["state_mb"] = state_mb
            # disk-plateau signal: growth over the last quarter of the
            # stream relative to its start — ~1.0 means compaction keeps
            # reclaiming superseded versions (key-space is fixed, so a
            # leak shows as monotone growth past the first full cycle)
            q4 = max(1, len(state_mb) // 4)
            out["state_mb_final"] = state_mb[-1]
            out["state_mb_peak"] = max(state_mb)
            if len(state_mb) > q4:
                out["disk_plateau_ratio"] = round(
                    state_mb[-1] / max(state_mb[-q4 - 1], 0.1), 2)
        return out
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sinks", default="replica",
                    help="comma list: replica,changelog,file,sqlite")
    ap.add_argument("--scales", default="1M,10M")
    args = ap.parse_args()
    scales = {"1M": (10, 4), "10M": (100, 40), "100M": (1000, 400)}
    # keep EVERY micro-batch's progress: the default recentProgress
    # buffer holds 100 entries, so the 400-batch 100M tier would lose
    # its head and the flatness ratio would compare mid-stream to tail
    spark = get_spark("tigate-streaming-scale", extra_confs={
        "spark.sql.streaming.numRecentProgressUpdates": "1000"})
    try:
        for sink in args.sinks.split(","):
            for label in args.scales.split(","):
                copies, n_files = scales[label]
                print(json.dumps(
                    run_scale(spark, label, copies, n_files, sink=sink)),
                    flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
