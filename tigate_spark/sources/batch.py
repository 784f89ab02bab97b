"""Batch parquet sources over the driver testdata layout.

Reference parity: the snapshot-bootstrap scan (tigate
``logservice/schemastore/schema_store.go:26`` — enumerate tables at a
snapshot ts) collapses to ``spark.read.parquet`` per table; Catalyst gives
predicate pushdown + column pruning on these scans for free (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from tigate_spark.session import ensure_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: never fan out inputs above this size — past it the scan itself has
#: enough splits and the shuffle would move real data for nothing
FAN_OUT_MAX_BYTES = 8 << 30
#: parquet split size the planner packs scan tasks to (Spark default)
_MAX_SPLIT_BYTES = 128 << 20


def scan_fan_out(df: DataFrame, *paths: str) -> DataFrame:
    """Repartition a freshly-scanned DataFrame to ``defaultParallelism``
    when the file layout cannot feed that many scan tasks.

    The bench/test tables are single-file single-row-group parquet, so
    every scan — and everything Catalyst fuses into it (projection-heavy
    encode stages, partial aggregation) — runs in ONE task regardless of
    core count (guide §2/§6: input splits bound stage parallelism). For
    expression-heavy pipelines the cheap fix is one small round-robin
    exchange of the raw rows before the heavy projections.

    Scale-adaptive, not a local[32] constant: the exchange is inserted
    only when the input is provably too small to parallelize the scan
    (total bytes < cores × 128 MB split size, capped at 8 GiB). At lake
    scale the condition is false and this is a no-op — the scan already
    fans out and an extra exchange of the payload would be pure waste.
    ``defaultParallelism`` scales with the executor fleet, so the target
    partition count is right on a real cluster too.
    """
    try:
        total = sum(os.path.getsize(p) for p in paths)
    except OSError:
        return df
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if total >= par * _MAX_SPLIT_BYTES or total > FAN_OUT_MAX_BYTES:
        return df
    return df.repartition(par)


def local_paths_from_input_files(files: list[str]) -> list[str] | None:
    """``df.inputFiles()`` URIs → local filesystem paths, or None when any
    input is not a local ``file:`` URI (remote FS — the caller must treat
    the scan as sizeable-but-unknown, not as a micro-batch). Shared by the
    fan-out gate here and the cosine kernel gate in
    :mod:`tigate_spark.functions.similarity`."""
    paths = []
    for f in files:
        if not f.startswith("file:"):
            return None
        p = f[5:]
        while p.startswith("//"):
            p = p[1:]
        paths.append(p)
    return paths


def fan_out_if_small(df: DataFrame) -> DataFrame:
    """:func:`scan_fan_out` keyed off the frame's OWN input files, for
    CPU-bound operators that receive an arbitrary frame rather than a
    fresh scan (shingle/minhash pipelines, embedding quantization).

    r18 (guide §2.4, VERDICT #3): these call sites used to repartition
    unconditionally — correct for the single-split local testdata and for
    streaming micro-batches, but a full shuffle of raw documents/vectors
    that is pure movement at lake scale, where the scan already has
    splits. The gate is the same bytes condition as :func:`scan_fan_out`
    (total input bytes < defaultParallelism × 128 MB split size, capped
    at 8 GiB — generous, per the CPU-bound rationale: widening these
    kernels beyond split count pays until the scan itself feeds full
    core width).

    ``df.inputFiles()`` is an upper bound over the plan's input files
    (filters don't shrink it), so a small filtered view of a big input
    skips the fan-out — the at-scale-safe direction.

    Fallback directions, chosen per what the failure implies (r18
    self-review):

    - ``inputFiles()`` raises or returns EMPTY → streaming micro-batch /
      non-file source → KEEP the fan-out (micro-batches are small by
      construction and were the original motivation for the
      unconditional form);
    - non-empty but NON-LOCAL files (hdfs/s3/…) → the input IS a file
      scan, just unsizeable from here → SKIP the fan-out (at lake scale
      the scan has its own splits; an unconditional shuffle of a remote
      multi-TB corpus is exactly what this gate exists to remove);
    - a local file whose size read fails (deleted between listing and
      stat, odd URI) → that file counts 0 bytes and the rest still
      count, so one failed stat cannot switch the fan-out back on for a
      big input;
      if every stat fails the total is 0 and the fan-out is KEPT (only
      the local bench/test layout produces it, and there the fan-out is
      the measured win).
    """
    try:
        files = df.inputFiles()
    except Exception:
        files = None
    if files:
        paths = local_paths_from_input_files(files)
        if paths is None:  # remote file scan: sizeable-but-unknown
            return df
        sc = df.sparkSession.sparkContext
        par = sc.defaultParallelism
        total = 0
        for p in paths:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass  # unsizeable file: the rest still count
        if total >= par * _MAX_SPLIT_BYTES or total > FAN_OUT_MAX_BYTES:
            return df
        return df.repartition(par)
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. ``events.ts`` dtype varies by data vintage
    (timestamp_ntz today, epoch-nanos long historically) — downstream code
    normalizes via ``sources.changes.event_us``."""
    ensure_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
