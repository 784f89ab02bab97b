"""Per-layer readings every traced run takes, whatever the workload:

- layer probes over the workload's own input, each a noop-forced job
  timed three times after one untimed run: ``normalize_events`` with
  images (``sources``), ``route`` (``operators``) and
  ``encode_canal_json`` (``functions.encoders``), the last two over the
  normalized rows written out beforehand so each probe times one layer;
- for a workload that has no catch-up drains of its own, one
  ``changelog://`` and one ``sqlite://`` drain of its input;
- the 13 headline catalog queries over seeded sf0.1-shaped tables: one
  collecting pass checked against each query's DuckDB oracle, then one
  timed noop pass, split by operator class from the status store;
- last, a ``local[1]`` ``changelog://`` drain of the input, the
  single-core baseline.
"""

from __future__ import annotations

import os
import threading
import time

import harness as H

PROBE_RUNS = 3


def _timed_noop(ctx, build, rows: int) -> float:
    """rows/s of the median of PROBE_RUNS noop writes after a warm one."""
    times = []
    for i in range(PROBE_RUNS + 1):
        df = build()
        with H.no_cache_left(ctx.spark, "layer probe"):
            t = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            if i:
                times.append(time.monotonic() - t)
    return rows / H.median(times)


def probes(ctx, files: list[str]) -> dict:
    from tigate_spark.config import DispatchRule
    from tigate_spark.functions.encoders import encode_canal_json
    from tigate_spark.operators.routing import route
    from tigate_spark.sources.changes import normalize_events

    spark = ctx.spark
    raw = spark.read.parquet(*files)
    rows = raw.count()
    norm_dir = os.path.join(ctx.work, "probe-normalized")
    normalize_events(raw, with_images=True).write.parquet(norm_dir)
    return {
        "sources.normalize_events.rows_per_s": _timed_noop(
            ctx, lambda: normalize_events(spark.read.parquet(*files),
                                          with_images=True), rows),
        "operators.routing.rows_per_s": _timed_noop(
            ctx, lambda: route(spark.read.parquet(norm_dir),
                               [DispatchRule()], 16), rows),
        "encoders.encode_canal_json.rows_per_s": _timed_noop(
            ctx, lambda: encode_canal_json(spark.read.parquet(norm_dir)),
            rows),
    }


def input_drains(ctx, files: list[str]) -> dict:
    """Drain the workload's input through changelog:// and sqlite://,
    two micro-batches each."""
    import catchup

    src = os.path.join(ctx.work, "input-drain-src")
    os.makedirs(src)
    for f in files:
        os.link(f, os.path.join(src, os.path.basename(f)))
    ctx.tracer.enabled = True
    per_batch = (len(files) + 1) // 2
    drains = [catchup.Drain(ctx, src, uri, f"in-{uri.split(':')[0]}",
                            per_batch) for uri in catchup.SINKS]
    ctx.tracer.enabled = False
    res = {"attempted": sum(d.rows for d in drains), "failed": 0}
    for d in drains:
        ctx.check(res, d.rows, f"input drain {d.name}",
                  lambda d=d: d.check(ctx))
    sq = [d for d in drains if d.uri.startswith("sqlite")]
    return res, {
        "sqlite_apply.process_batch_ms.p50": H.pct(
            ctx.tracer.durations_ms("sinks.process_batch.sqlite"), 50),
        "sqlite_apply.rows_per_s": catchup.sink_rate(drains, "sqlite"),
        "sqlite_apply.sql_executions_per_batch": H.median(
            ctx.executions_per_batch([b for d in sq for b in d.batches])),
        "drain.changelog_rows_per_s": catchup.sink_rate(drains, "changelog"),
        "drain.sqlite_rows_per_s": catchup.sink_rate(drains, "sqlite"),
    }


def headline(ctx) -> tuple[dict, dict]:
    """The headline queries: a checked collecting pass, then a timed
    noop pass read back from the status store per query."""
    import checks
    import gen
    from tigate_spark.catalog import get_catalog

    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "headline")
    gen.write_headline_tables(ctx.seed, sf_dir)
    specs = {n: s for n, s in get_catalog().items() if s.bench}
    names = sorted(specs)
    con = checks.duckdb_tables(sf_dir)
    oracle: dict = {}

    def run_oracles():
        for n in names:
            oracle[n] = con.execute(specs[n].oracle).df()

    th = threading.Thread(target=run_oracles)
    th.start()
    got = {}
    with H.no_cache_left(spark, "headline collecting pass"):
        for n in names:
            got[n] = specs[n].builder(spark, sf_dir).toPandas()
    th.join()
    res = {"attempted": 2 * len(names), "failed": 0}
    for n in names:
        ctx.check(res, 2, f"headline {n}",
                  lambda n=n: checks.same_rows(n, got[n], oracle[n]))
    out, total = {}, H.SqlMetrics()
    ctx.tracer.enabled = True
    with H.no_cache_left(spark, "headline timed pass"):
        for n in names:
            df = specs[n].builder(spark, sf_dir)
            t0 = time.monotonic()
            with ctx.tracer.span(f"headline.{n}"):
                df.write.format("noop").mode("overwrite").save()
            t1 = time.monotonic()
            m = H.sql_metrics(spark, ctx.executions_between(t0, t1))
            total.add(m)
            out[f"headline.{n}.s"] = t1 - t0
            out[f"headline.{n}.exchange_bytes"] = m.exchange_bytes
            out[f"headline.{n}.broadcast_collect_ms"] = m.broadcast_collect_ms
            out[f"headline.{n}.spill_bytes"] = m.spill_bytes
    ctx.tracer.enabled = False
    out["headline.total_s"] = sum(out[f"headline.{n}.s"] for n in names)
    out.update({f"headline.node_ms.{k}": v for k, v in total.node_ms.items()})
    return res, out


def single_core(ctx, files: list[str]) -> dict:
    """local[1] changelog:// drain of the input (restarts the session)."""
    import catchup

    src = os.path.join(ctx.work, "single-core-src")
    os.makedirs(src)
    for f in files:
        os.link(f, os.path.join(src, os.path.basename(f)))
    ctx.restart(cpus=1)
    d = catchup.Drain(ctx, src, "changelog://", "single-core",
                      (len(files) + 1) // 2)
    return {"drain.single_core_rows_per_s": d.rows / d.seconds}


def common(ctx, res: dict) -> dict:
    """Every traced run's shared per-layer readings; folds the operations
    and failures of their own checks into ``res``."""
    files = res["input_files"]
    out = probes(ctx, files)
    ctx.log("layer probes done")
    if "drain.changelog_rows_per_s" not in res["layers"]:
        r, layer = input_drains(ctx, files)
        out.update(layer)
        res["attempted"] += r["attempted"]
        res["failed"] += r["failed"]
        ctx.log("input drains done")
    r, layer = headline(ctx)
    ctx.log("headline done")
    out.update(layer)
    res["attempted"] += r["attempted"]
    res["failed"] += r["failed"]
    out.update(single_core(ctx, res["single_core_files"]))
    return out
