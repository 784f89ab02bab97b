"""Merge-on-read replica store: per-batch cost and version-counter
coherence.

``ReplicaSink`` writes each micro-batch's own last-writer-wins winners as
a delta version and keeps its next version / version count on the sink;
readers fold the committed versions. These tests pin the two halves of
that contract: a warm batch does no work proportional to the stored
state, and the cached counters never let a write clobber a committed
version or change what readers see.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig
from tigate_spark.operators.apply import materialize
from tigate_spark.sources.changes import normalize_events
from tigate_spark.streaming.changefeed import PAYLOAD_COLS, Changefeed
from tigate_spark.streaming.sinks import (
    ReplicaSink,
    read_replica,
    read_state,
    read_state_as_of,
    vacuum_tombstones,
)

pytestmark = pytest.mark.slow

_KEY_COLS = ["table_id", "pk", "commit_ts", "event_type", "value_cents"]


def _batches(spark, chunked_source):
    files = sorted(glob.glob(os.path.join(chunked_source, "*.parquet")))
    assert len(files) == 4
    return [normalize_events(spark.read.parquet(f)) for f in files]


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _execution_ids(spark) -> set[int]:
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().executionId())
    return ids


def _plan(spark, eid: int) -> str:
    return spark._jsparkSession.sharedState().statusStore() \
        .execution(eid).get().physicalPlanDescription()


def _scanned_locations(spark, eid: int) -> list[str]:
    """The ``Location:`` lines of one execution's file scans."""
    return [ln for ln in _plan(spark, eid).splitlines()
            if ln.strip().startswith("Location:")]


def test_warm_replica_batch_job_budget(spark, chunked_source, tmp_path):
    """A warm batch (second on the same sink) runs at most two SQL
    executions — delta write, bookkeeping. None of them scans the stored
    state, and none reads or writes the manifest: the commit record is
    written by the driver, not by a Spark job."""
    from tigate_spark.streaming.sinks import Bookkeeping

    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, PAYLOAD_COLS,
                       bookkeeping=Bookkeeping(str(tmp_path / "bk")))
    b = _batches(spark, chunked_source)
    sink.process_batch(b[0], 0)
    warm = b[1].persist()
    try:
        warm.count()
        before = _execution_ids(spark)
        sink.process_batch(warm, 1)
        new = sorted(_execution_ids(spark) - before)
    finally:
        warm.unpersist()
    assert 0 < len(new) <= 2, len(new)
    data_dir = os.path.join(state_dir, "data")
    manifest_dir = os.path.join(state_dir, "_manifest")
    for eid in new:
        for loc in _scanned_locations(spark, eid):
            assert data_dir not in loc, loc
        assert manifest_dir not in _plan(spark, eid), eid
    assert os.path.isfile(
        os.path.join(manifest_dir, f"v-{2:020d}.parquet"))
    assert read_replica(spark, state_dir).count() > 0


def test_vacuum_between_batches_of_live_sink(spark, chunked_source, tmp_path):
    """``vacuum_tombstones`` on another handle between two batches of a
    live sink: the next batch lands at snapshot+1 (the snapshot marker
    re-seeds the cached counter) and the live view still equals
    last-writer-wins over every batch."""
    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    b = _batches(spark, chunked_source)
    sink.process_batch(b[0], 0)
    sink.process_batch(b[1], 1)
    # tombstones older than every later change can never be contradicted
    later = b[2].unionByName(b[3])
    below = later.agg(F.min("commit_ts")).first()[0]
    removed = vacuum_tombstones(spark, state_dir, below_ts=below)
    assert removed > 0
    snapshot = 3  # versions 1, 2, then the vacuum snapshot
    assert os.path.isdir(os.path.join(state_dir, "data", f"v={snapshot}"))
    sink.process_batch(b[2], 2)
    sink.process_batch(b[3], 3)
    versions = sorted(
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(state_dir, "data", "v=*")))
    assert versions == [snapshot, snapshot + 1, snapshot + 2]
    man = spark.read.parquet(os.path.join(state_dir, "_manifest"))
    assert sorted(r[0] for r in man.select("version").distinct().collect()) \
        == versions
    everything = b[0].unionByName(b[1]).unionByName(later)
    want = materialize(everything, PAYLOAD_COLS).withColumnRenamed(
        "last_commit_ts", "commit_ts")
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(want, _KEY_COLS)


def test_replayed_committed_batch_is_a_noop(spark, chunked_source, tmp_path):
    """Replaying a committed batch (same rows, same batch_id — the crash
    window after the manifest append) adds a version holding the same
    winners; the fold leaves ``read_state`` unchanged."""
    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    b = _batches(spark, chunked_source)
    sink.process_batch(b[0], 0)
    sink.process_batch(b[1], 1)
    cols = read_state(spark, state_dir).columns
    before = _rows(read_state(spark, state_dir), cols)
    sink.process_batch(b[1], 1)
    assert _rows(read_state(spark, state_dir), cols) == before


def test_small_batch_writes_one_file_per_touched_table(
        spark, chunked_source, tmp_path):
    """Through the changefeed path (batch clustered on (table_id, pk)):
    every delta version holds at most one parquet file per touched table,
    not one per shuffle partition."""
    cfg = ChangefeedConfig(changefeed_id="cf-files", sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    cf.run_to_completion()
    vdirs = glob.glob(os.path.join(cf.sink.state_dir, "data", "v=*"))
    assert len(vdirs) == 4
    for v in vdirs:
        tables = glob.glob(os.path.join(v, "table_id=*"))
        assert tables, v
        for t in tables:
            n = len(glob.glob(os.path.join(t, "*.parquet")))
            assert n == 1, (t, n)


def _lww_live(batches):
    everything = batches[0]
    for b in batches[1:]:
        everything = everything.unionByName(b)
    return materialize(everything, PAYLOAD_COLS).withColumnRenamed(
        "last_commit_ts", "commit_ts")


def test_two_vacuums_between_batches_of_live_sink(
        spark, chunked_source, tmp_path):
    """Two vacuums on another handle between batches: the second one's
    cleanup removes the first snapshot's dir — the very dir an existence
    probe on the cached next version would look at. The next batch must
    still land above the latest snapshot, not below it where the fold
    would skip it."""
    state_dir = str(tmp_path / "state")
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    b = _batches(spark, chunked_source)
    sink.process_batch(b[0], 0)
    sink.process_batch(b[1], 1)
    later = b[2].unionByName(b[3])
    below = later.agg(F.min("commit_ts")).first()[0]
    vacuum_tombstones(spark, state_dir, below_ts=below)
    vacuum_tombstones(spark, state_dir, below_ts=below)
    assert not os.path.exists(os.path.join(state_dir, "data", "v=3"))
    sink.process_batch(b[2], 2)
    sink.process_batch(b[3], 3)
    versions = sorted(
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(state_dir, "data", "v=*")))
    assert versions == [4, 5, 6]
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b), _KEY_COLS)


def test_partial_cleanup_never_resurrects_a_vacuumed_key(
        spark, chunked_source, tmp_path):
    """A cleanup that stops partway (a crash, or an error removing one
    file) leaves an old delta and its manifest log file behind, while
    the delta holding the key's tombstone is gone. Readers skip every
    version below the latest snapshot, so the vacuumed key stays
    deleted, and the next compact sweeps the leftovers."""
    state_dir = str(tmp_path / "state")
    kept = str(tmp_path / "kept")
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    b0, b1 = _batches(spark, chunked_source)[:2]
    # a batch deleting some keys the first batch wrote
    hi = b0.unionByName(b1).agg(F.max("commit_ts")).first()[0]
    deletes = (b0.filter(F.col("op") != "D")
               .orderBy("table_id", "pk", "seq").limit(20)
               .withColumn("op", F.lit("D"))
               .withColumn("commit_ts", F.lit(hi + 1).cast("bigint"))
               .withColumn("start_ts", F.lit(hi + 1).cast("bigint")))
    batches = [b0, deletes, b1]
    sink.process_batch(b0, 0)
    # the first delta and the manifest log file that commits it
    shutil.copytree(os.path.join(state_dir, "data", "v=1"),
                    os.path.join(kept, "v=1"))
    shutil.copytree(os.path.join(state_dir, "_manifest"),
                    os.path.join(kept, "_manifest"))
    sink.process_batch(deletes, 1)
    sink.process_batch(b1, 2)
    n_dead = read_state(spark, state_dir).filter(F.col("op") == "D").count()
    assert n_dead > 0
    assert vacuum_tombstones(spark, state_dir, below_ts=hi + 2) == n_dead
    # put back what a partial cleanup would have left behind
    shutil.copytree(os.path.join(kept, "v=1"),
                    os.path.join(state_dir, "data", "v=1"))
    for f in glob.glob(os.path.join(kept, "_manifest", "*")):
        shutil.copy(f, os.path.join(state_dir, "_manifest"))
    want = _rows(_lww_live(batches), _KEY_COLS)
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) == want
    assert read_state(spark, state_dir).filter(F.col("op") == "D").count() == 0
    assert read_state_as_of(spark, state_dir, 1) is None
    sink.compact(spark)
    assert not os.path.exists(os.path.join(state_dir, "data", "v=1"))
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) == want


def test_manifest_written_by_spark_reads_the_same(
        spark, chunked_source, tmp_path):
    """A state dir whose manifest log Spark wrote as (table_id, version)
    rows — the layout before one-record commits — reads identically
    through the ``version`` projection, the next batch lands at max+1,
    and the next compact sweeps the old part, ``.crc`` and ``_SUCCESS``
    files."""
    state_dir = str(tmp_path / "state")
    mdir = os.path.join(state_dir, "_manifest")
    b = _batches(spark, chunked_source)
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    sink.process_batch(b[0], 0)
    sink.process_batch(b[1], 1)
    cols = read_state(spark, state_dir).columns
    before = _rows(read_state(spark, state_dir), cols)
    as_of_1 = _rows(read_state_as_of(spark, state_dir, 1), cols)
    # rewrite the log the way Spark wrote it: one row per touched table
    old_log = (spark.read.parquet(os.path.join(state_dir, "data"))
               .select(F.col("table_id").cast("bigint"),
                       F.col("v").cast("bigint").alias("version"))
               .distinct())
    assert old_log.count() > 2
    shutil.rmtree(mdir)
    old_log.coalesce(1).write.parquet(mdir)
    assert _rows(read_state(spark, state_dir), cols) == before
    assert _rows(read_state_as_of(spark, state_dir, 1), cols) == as_of_1
    fresh = ReplicaSink(state_dir, PAYLOAD_COLS)
    fresh.process_batch(b[2], 2)
    assert os.path.isfile(os.path.join(mdir, f"v-{3:020d}.parquet"))
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:3]), _KEY_COLS)
    fresh.compact(spark)
    assert sorted(os.listdir(mdir)) == [f"v-{4:020d}.parquet"]
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:3]), _KEY_COLS)


def test_orphan_version_without_commit_record_is_invisible(
        spark, chunked_source, tmp_path, monkeypatch):
    """A crash between the delta write and the commit record leaves an
    orphan ``v=<n>`` that readers never fold; the replayed batch
    overwrites it rather than adding to it."""
    from tigate_spark.streaming import sinks

    state_dir = str(tmp_path / "state")
    b = _batches(spark, chunked_source)
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    sink.process_batch(b[0], 0)

    def crash(state_dir, version):
        raise RuntimeError("crash before the commit record")

    monkeypatch.setattr(sinks, "_commit_version", crash)
    with pytest.raises(RuntimeError):
        sink.process_batch(b[1], 1)
    monkeypatch.undo()
    orphan = os.path.join(state_dir, "data", "v=2")
    assert os.path.isdir(orphan)
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:1]), _KEY_COLS)
    sink.process_batch(b[1], 1)
    n_keys = b[1].select("table_id", "pk").distinct().count()
    assert spark.read.parquet(orphan).count() == n_keys
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:2]), _KEY_COLS)


def test_unfinished_commit_file_is_ignored_then_swept(
        spark, chunked_source, tmp_path, monkeypatch):
    """A crash between the hidden-name write and the ``os.replace``
    leaves a ``.v-<n>.parquet.tmp-*`` file holding a valid record.
    Readers skip it (the version stays uncommitted), and the next
    compact removes it."""
    from tigate_spark.streaming import sinks

    state_dir = str(tmp_path / "state")
    mdir = os.path.join(state_dir, "_manifest")
    b = _batches(spark, chunked_source)
    sink = ReplicaSink(state_dir, PAYLOAD_COLS)
    sink.process_batch(b[0], 0)
    sink.process_batch(b[1], 1)

    def crash(src, dst):
        raise OSError("crash before the commit record moves into place")

    monkeypatch.setattr(sinks.os, "replace", crash)
    with pytest.raises(OSError):
        sink.process_batch(b[2], 2)
    monkeypatch.undo()
    leftovers = glob.glob(os.path.join(mdir, ".v-*.tmp-*"))
    assert [os.path.basename(p).split(".tmp-")[0] for p in leftovers] \
        == [f".v-{3:020d}.parquet"]
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:2]), _KEY_COLS)
    assert read_state_as_of(spark, state_dir, 3).count() \
        == read_state_as_of(spark, state_dir, 2).count()
    sink.compact(spark)
    assert glob.glob(os.path.join(mdir, ".*")) == []
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:2]), _KEY_COLS)
    sink.process_batch(b[2], 2)
    assert _rows(read_replica(spark, state_dir), _KEY_COLS) \
        == _rows(_lww_live(b[:3]), _KEY_COLS)
