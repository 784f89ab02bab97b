"""foreachBatch sinks K1–K6 (SURVEY §2.7) for the streaming changefeed.

Reference parity:
- K1 MySQL/TiDB sink: txn-batched ordered apply, safe-mode REPLACE +
  delete-by-pk idempotent replay (``pkg/sink/mysql/mysql_writer.go:727-755``,
  ``:686-691``; SQL shapes ``pkg/sink/mysql/sql_builder.go:56-205``).
  Here: :class:`ReplicaSink` — a merge-on-read parquet replica. Each
  micro-batch writes only its own last-writer-wins winners as a new
  delta version ``data/v=<n>`` and commits it with one driver-written
  record ``_manifest/v-<n>.parquet`` (hidden name, then ``os.replace``;
  no Spark job); readers fold the committed versions with the same
  ``max_by`` on the total order, and a periodic compaction folds the log
  into one snapshot. At lake scale the same ``process_batch`` body is a
  Delta/Iceberg merge-on-read ``MERGE INTO`` (deletion vectors / delete
  files); the union+max_by fold is the engine-neutral formulation (one
  shuffle on the key, map-side combinable).
- K2 Kafka sink (``downstreamadapter/sink/kafka_sink.go``; DML worker
  ``kafka_dml_worker.go:107-369``): :class:`ChangelogSink` — router columns
  (topic, partition, key) + protocol encoding appended to a partitioned
  parquet changelog (Kafka stand-in; the container has no broker). Same
  at-least-once contract as the reference MQ sink.
- K3 blackhole (``downstreamadapter/sink/blackhole.go``): :class:`NoopSink`.
- K4 ddl-ts bookkeeping (``mysql_writer.go:280-330``) and
  T5/T11 progress: every sink appends per-batch checkpoint rows
  (batch_id, table_id, resolved_ts, n_events) to a bookkeeping table.
- K5 syncpoint ts-map (``mysql_writer.go:154-200,525-545``): aligned ticks
  appended per batch when sync point is enabled (T7,
  ``downstreamadapter/syncpoint/syncpoint.go:15-22``).

Deletes are kept as tombstones in the replica state so a late/replayed
older change cannot resurrect a deleted key (the stale-drop guarantee T9,
``dispatcher.go:271-279``, falls out of max_by on the total order).
:func:`read_replica` exposes the live view; tombstones below the global
checkpoint are GC-able (T12, ``logservice/eventstore/gc.go`` equivalent —
here :func:`vacuum_tombstones`, a ``VACUUM``-style compaction).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tigate_spark.operators.ordering import op_rank_col, op_rank_sql

#: syncpoint alignment interval (µs) when enabled — 1h like the reference default
DEFAULT_SYNC_POINT_US = 3600 * 1_000_000


#: replica state layout (manifest-versioned, Delta-log-style)
_MANIFEST = "_manifest"
_DATA = "data"
#: the latest snapshot version, one integer in a small text file
_SNAPSHOT = "_snapshot"
#: the manifest's one schema, read explicitly — reading it never runs a
#: footer-inference job. Logs written as (table_id, version) rows read
#: through the same schema by column projection.
_MANIFEST_SCHEMA = "version bigint"


def _manifest_dir(state_dir: str) -> str:
    return os.path.join(state_dir, _MANIFEST)


def _data_dir(state_dir: str) -> str:
    return os.path.join(state_dir, _DATA)


def _version_dir(state_dir: str, version: int) -> str:
    return os.path.join(_data_dir(state_dir), f"v={version}")


def _snapshot_version(state_dir: str) -> int:
    """The latest snapshot version (0 before the first compaction).

    A snapshot folds every version below it, so nothing below it is ever
    read again. The marker is written after the snapshot's commit record
    lands and before any cleanup, so leftovers of a partial cleanup are
    never folded."""
    try:
        with open(os.path.join(state_dir, _SNAPSHOT)) as f:
            return int(f.read())
    except FileNotFoundError:
        return 0


def _commit_version(state_dir: str, version: int) -> None:
    """Commit ``version``: write its one-record log file
    ``_manifest/v-<n>.parquet`` under a hidden name (readers skip
    dotfiles), then move it into place with one ``os.replace`` — the
    commit point, a single PUT on an object store like a Delta log commit
    file. Driver-side; no Spark job."""
    mdir = _manifest_dir(state_dir)
    os.makedirs(mdir, exist_ok=True)
    name = f"v-{version:020d}.parquet"
    tmp = os.path.join(mdir, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
    pq.write_table(pa.table({"version": pa.array([version], pa.int64())}), tmp)
    os.replace(tmp, os.path.join(mdir, name))


def _read_manifest(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The live manifest log: the committed versions from the latest
    snapshot on, one ``version`` column (a log written as one row per
    (table_id, version) reads the same, with repeats). Hidden
    ``.v-*.tmp-*`` files of an unfinished commit are skipped by the
    reader. Returns None before the first commit."""
    mdir = _manifest_dir(state_dir)
    if not os.path.exists(mdir):
        return None
    return (spark.read.schema(_MANIFEST_SCHEMA).parquet(mdir)
            .filter(F.col("version") >= _snapshot_version(state_dir)))


def _lww(df: DataFrame) -> DataFrame:
    """Last-writer-wins fold: the ``max_by`` winner per (table_id, pk)
    over the exact total order (commit_ts, start_ts, D<U<I, seq). The
    winner keeps its full order key, so folding winners again (a later
    batch, a replay, a re-read of an older version) picks the same row —
    the fold is idempotent and order-insensitive. One shuffle on the key,
    map-side combinable; columns keep the input's order. Built from SQL
    strings: every Column-API call pays call-site capture over py4j, which
    made the plan cost more to build than a small batch costs to run."""
    keys = ("table_id", "pk")
    rest = ", ".join(f"`{c}`" for c in df.columns if c not in keys)
    order_key = f"struct(commit_ts, start_ts, {op_rank_sql()}, seq)"
    w = df.groupBy(*keys).agg(F.expr(f"max_by(struct({rest}), {order_key}) AS w"))
    return w.selectExpr(*[f"`{c}`" if c in keys else f"w.`{c}` AS `{c}`"
                          for c in df.columns])


def _resolve_state(spark: SparkSession, state_dir: str,
                   man: DataFrame) -> DataFrame:
    """Merge-on-read: the LWW fold of every committed version's rows.

    A data row counts only if its version ``v`` has a commit record in
    ``man`` — a ``left_semi`` join on ``v`` alone (a version's rows exist
    only for the tables it touched), so an orphan version dir (a crash
    between the data write and the commit record) and a version below
    the latest snapshot (left by a partial cleanup) stay invisible.
    Passing a filtered manifest folds a prefix of the log (time travel).
    No driver-side listing, linking or renames anywhere on this path."""
    data = (
        # mergeSchema: version dirs written before a DDL lack the
        # evolved payload columns — the union schema NULL-fills them
        # (the parquet replica's ALTER ... ADD COLUMN semantics). A
        # production deployment carries the schema in the manifest (or
        # uses Delta/Iceberg metadata) instead of footer-merging; here
        # the compact cycle keeps the file population bounded.
        spark.read.option("mergeSchema", "true")
        .parquet(_data_dir(state_dir))
        .withColumn("table_id", F.col("table_id").cast("bigint"))
        .withColumn("v", F.col("v").cast("bigint"))
    )
    committed = data.join(
        man.withColumnRenamed("version", "v"), "v", "left_semi"
    )
    return _lww(committed.drop("v"))


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Full current replica state (tombstones included), or None if no
    batch has committed yet."""
    man = _read_manifest(spark, state_dir)
    if man is None:
        return None
    return _resolve_state(spark, state_dir, man)


def read_state_as_of(spark: SparkSession, state_dir: str,
                     version: int) -> DataFrame | None:
    """Time travel: the replica state as of manifest ``version`` — the
    fold of every committed version ≤ ``version``. Each version holds
    the LWW winners of one batch (or a compaction snapshot of the whole
    state), so the prefix fold is exactly the state after that commit,
    like Delta's ``VERSION AS OF``. Retention lasts until
    :meth:`ReplicaSink.compact` writes a snapshot (the VACUUM analogue —
    after a compact, only versions at/after the snapshot remain
    addressable). Returns None if no addressable version is
    ≤ ``version``."""
    man = _read_manifest(spark, state_dir)
    if man is None:
        return None
    man_v = man.filter(F.col("version") <= version)
    if man_v.first() is None:
        return None
    return _resolve_state(spark, state_dir, man_v)


class Bookkeeping:
    """K4/K5/T11 side tables appended per micro-batch.

    ``sync_point_retention_us`` enables the reference's ts-map cleanup
    (``mysql_writer.go:215-238``: DELETE rows older than
    SyncPointRetention, default 24h, throttled to once per interval).
    The Spark-native form keeps the pruning O(live buckets), never
    O(accumulated ticks): ticks land under a coarse ``sp_epoch=<n>``
    partition dir (bucket = retention/4 of EVENT time — the stream's
    clock here, where the reference uses the downstream wall clock) and
    expired buckets are dropped driver-side by directory name alone —
    a listdir of the ~5 live buckets, zero Spark jobs, no rewrite of
    surviving rows. Default None keeps every tick: the engine's ts-map
    is replayable parquet, not a shared downstream table, so unbounded
    retention is safe where the reference's MySQL table is not — set it
    to get the reference behavior."""

    def __init__(self, base_dir: str, sync_point_us: int | None = None,
                 sync_point_retention_us: int | None = None):
        self.progress_dir = os.path.join(base_dir, "table_progress")
        self.syncpoint_dir = os.path.join(base_dir, "syncpoint")
        self.sync_point_us = sync_point_us
        self.sync_point_retention_us = sync_point_retention_us

    def _prune_syncpoint(self) -> None:
        """Drop sp_epoch buckets entirely below newest - retention."""
        try:
            buckets = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(self.syncpoint_dir)
                if d.startswith("sp_epoch=")
            )
        except FileNotFoundError:
            return
        if not buckets:
            return
        # bucket = retention/4: a bucket is expired once 4 newer buckets
        # exist (every tick in it is > retention older than the newest)
        for b in buckets:
            if b < buckets[-1] - 4:
                shutil.rmtree(
                    os.path.join(self.syncpoint_dir, f"sp_epoch={b}"),
                    ignore_errors=True,
                )

    def record(self, batch_df: DataFrame, batch_id: int) -> None:
        progress = batch_df.groupBy("table_id").agg(
            F.max("commit_ts").alias("resolved_ts"),
            F.count(F.lit(1)).alias("n_events"),
        ).withColumn("batch_id", F.lit(batch_id))
        progress.write.mode("append").parquet(self.progress_dir)
        if self.sync_point_us:
            iv = self.sync_point_us
            # aligned ticks covered by this batch: CalculateStartSyncPointTs
            # rounds up to the next interval boundary (syncpoint.go:15-22).
            # K5 ts-map rows are (primary_ts, secondary_ts) pairs like the
            # reference syncpoint_v1 table (mysql_writer.go:528-542, :154-185:
            # secondary_ts = downstream current ts when the tick is written);
            # here the downstream position at tick time is the replica's max
            # applied commit_ts for the batch that crossed the boundary.
            ticks = batch_df.agg(
                F.min("commit_ts").alias("lo"), F.max("commit_ts").alias("hi")
            ).select(
                F.explode(
                    F.sequence(
                        (F.floor(F.col("lo") / iv) + 1) * iv,
                        F.floor(F.col("hi") / iv) * iv,
                        F.lit(iv),
                    )
                ).alias("primary_ts"),
                F.col("hi").alias("secondary_ts"),
            ).withColumn("batch_id", F.lit(batch_id))
            if self.sync_point_retention_us:
                bucket = max(self.sync_point_retention_us // 4, 1)
                ticks = ticks.withColumn(
                    "sp_epoch",
                    F.expr(f"primary_ts div {bucket}"))
                (ticks.write.partitionBy("sp_epoch")
                 .mode("append").parquet(self.syncpoint_dir))
                self._prune_syncpoint()
            else:
                ticks.write.mode("append").parquet(self.syncpoint_dir)


class ReplicaSink:
    """K1: apply each micro-batch to a materialized replica (parquet).

    State schema: (table_id, pk, op, commit_ts, start_ts, seq,
    *payload_cols) — a winning change per key plus its order key, so
    folding any set of versions is a pure union + ``max_by`` (idempotent
    under replay).

    Storage is a manifest-versioned merge-on-read log (a Delta-log commit
    protocol in miniature)::

        state_dir/_manifest/v-<n>.parquet   one commit record per version
        state_dir/data/v=<n>/table_id=<id>/*.parquet
        state_dir/_snapshot                 latest snapshot version

    Each batch writes ONLY its own per-key winners as delta version
    ``v=<n>`` (one file per touched table for a small batch) and then
    commits it with one driver-written record (:func:`_commit_version`,
    a one-row ``version`` file moved into place by ``os.replace``) — the
    apply cost grows with the batch, never with the state, like the
    reference's MySQL writer (``mysql_writer.go:727-755``), and the batch
    runs two Spark jobs: the delta write and the bookkeeping. Readers
    fold the committed versions (:func:`_resolve_state`). The next
    version and the version count live on the sink: seeded from the
    manifest on the first batch, advanced only after the commit record
    lands, reset by :meth:`compact`. A warm batch reads neither the
    manifest nor the state, and its driver work is two probes (the
    ``_snapshot`` marker and the next version's dir) and one commit
    record — no per-table listdir/hard-link loop and no POSIX dir
    rename, so the layout holds on object stores and at the reference's
    >1M-table design point (``README.md:5``). The amortized
    :meth:`compact` (Delta checkpoint + VACUUM equivalent) folds the log
    into one snapshot version every ``compact_every`` commits.

    Crash windows:

    - data written, commit record not in place (the crash hit before or
      during the hidden-name write, or before the ``os.replace``) → an
      orphan ``v=<n>`` that no record references, and maybe a hidden
      ``.v-<n>.parquet.tmp-*`` file; readers see neither. The replayed
      batch finds the dir by the existence probe, re-seeds from the
      manifest (which still ends at n-1) and overwrites it; the next
      compact removes the hidden file.
    - record in place, offsets not committed → the batch replays as a
      new version holding the same winners; the fold is idempotent, so
      the state does not change.
    - crash mid-compaction, before the ``_snapshot`` marker names the new
      snapshot → readers fold the old versions and the snapshot, which
      is the fold of those same versions, so the live view is the same;
      a snapshot that dropped tombstones only lets them re-fold into
      :func:`read_state`. Once the marker is written, readers skip every
      version below it, so a partial cleanup (a crash, or an error
      removing a file) never brings an older row back. The next compact
      redoes the cleanup.

    The cached next version is used only while it is above the
    ``_snapshot`` marker and its dir does not exist; otherwise the sink
    re-seeds from the manifest. That covers a :func:`vacuum_tombstones`
    (or compact) run on another handle — including several in a row,
    whose cleanup removes the dir the probe would look at.
    Production deployments point the same ``process_batch`` body at a
    transactional table format (Delta/Iceberg ``MERGE INTO``).
    """

    def __init__(self, state_dir: str, payload_cols: list[str],
                 bookkeeping: Bookkeeping | None = None,
                 compact_every: int = 16):
        self.state_dir = state_dir
        self.payload_cols = payload_cols
        self.bookkeeping = bookkeeping
        self.compact_every = max(2, compact_every)
        #: next version to write and committed versions in the log;
        #: None until seeded from the manifest
        self._next_ver: int | None = None
        self._n_versions = 0

    def _claim_version(self, spark: SparkSession) -> int:
        """The version the next write goes to: the cached counter, unless
        it is unseeded, at or below the latest snapshot, or its dir
        already exists (an orphan, or another handle's snapshot) — then
        both counters are re-seeded from the manifest (one small job)."""
        nxt = self._next_ver
        if (nxt is not None and nxt > _snapshot_version(self.state_dir)
                and not os.path.exists(_version_dir(self.state_dir, nxt))):
            return nxt
        man = _read_manifest(spark, self.state_dir)
        if man is None:
            self._next_ver, self._n_versions = 1, 0
        else:
            info = man.agg(
                F.max("version").alias("mx"),
                F.count_distinct("version").alias("nv"),
            ).first()
            self._next_ver = int(info["mx"] or 0) + 1
            self._n_versions = int(info["nv"])
        return self._next_ver

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Write one micro-batch's winners as a delta version.

        The delta is the batch's own ``max_by`` fold — the changefeed
        hands the batch clustered on (table_id, pk), so the fold needs no
        exchange — re-clustered by table_id so each touched table's rows
        land in one file. The commit record names only the version, so
        nothing about the touched tables reaches the driver and a batch
        touching >1M tables (README.md:5) stays a distributed write."""
        spark = batch_df.sparkSession
        cols = ["table_id", "pk", "op", "commit_ts", "start_ts", "seq",
                *[c for c in self.payload_cols if c in batch_df.columns]]
        incoming = batch_df.select(*cols)
        ver = self._claim_version(spark)
        # data first, commit record second: rows are visible only once
        # the record lands (the commit point)
        (_lww(incoming).hint("rebalance", F.col("table_id"))
         .write.mode("overwrite").partitionBy("table_id")
         .parquet(_version_dir(self.state_dir, ver)))
        _commit_version(self.state_dir, ver)
        self._next_ver, self._n_versions = ver + 1, self._n_versions + 1
        if self.bookkeeping:
            self.bookkeeping.record(batch_df, batch_id)
        if self._n_versions > self.compact_every:
            self.compact(spark)

    def compact(self, spark: SparkSession) -> None:
        """Amortized checkpoint: fold the whole log into one snapshot
        version, commit it, then drop superseded version dirs and old
        manifest log files. Crash-safe in every prefix (see
        the class docstring): the snapshot equals the fold of what it
        supersedes, and cleanup is redone by the next compact."""
        man = _read_manifest(spark, self.state_dir)
        if man is None:
            return
        state = _resolve_state(spark, self.state_dir, man)
        snapshot_ver = _checkpoint_state(spark, self.state_dir, state, man)
        self._next_ver, self._n_versions = snapshot_ver + 1, 1

    def live(self, spark: SparkSession) -> DataFrame:
        """The replica's live view (tombstones filtered)."""
        return read_replica(spark, self.state_dir)


def _checkpoint_state(spark: SparkSession, state_dir: str,
                      new_state: DataFrame, man: DataFrame) -> int:
    """Write ``new_state`` as a full snapshot at the next version after
    the manifest's newest, supersede the manifest log with it and return
    that version. The commit order is snapshot data, its commit record,
    then the ``_snapshot`` marker; only then does cleanup start, so
    readers skip whatever a partial cleanup leaves below the snapshot.
    Cleanup of old versions/log files is driver-side but amortized (runs
    once per ``compact_every`` commits). It takes every file the log held
    before the snapshot, dotfiles included: a hidden ``.v-*.tmp-*`` left
    by a crashed commit, and the ``.crc``/``_SUCCESS`` files of a log
    written by Spark. A log file that is already gone is fine, any other
    error surfaces (an unremovable log would grow without bound)."""
    mdir = _manifest_dir(state_dir)
    old_log_files = [
        p for pat in ("*", ".*") for p in glob.glob(os.path.join(mdir, pat))
        if os.path.isfile(p)
    ]
    snapshot_ver = int(man.agg(F.max("version")).first()[0]) + 1
    new_state.write.mode("overwrite").partitionBy("table_id").parquet(
        _version_dir(state_dir, snapshot_ver))
    _commit_version(state_dir, snapshot_ver)
    tmp = os.path.join(state_dir, f".{_SNAPSHOT}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(str(snapshot_ver))
    os.replace(tmp, os.path.join(state_dir, _SNAPSHOT))
    for p in old_log_files:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    for d in glob.glob(os.path.join(_data_dir(state_dir), "v=*")):
        if os.path.basename(d) != f"v={snapshot_ver}":
            shutil.rmtree(d, ignore_errors=True)
    return snapshot_ver


def read_replica(spark: SparkSession, state_dir: str) -> DataFrame:
    state = read_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no committed replica state at {state_dir}")
    return state.filter(F.col("op") != "D").drop("op")


class ChangelogSink:
    """K2: encoded + routed changelog appended to parquet (Kafka stand-in).

    Expects the batch already carries ``topic``/``partition``/``message``
    (or key/value) columns from the routing+encoding stages; partitions the
    files by topic like Kafka partitions by topic.

    ``producer`` is the Kafka transport seam (``streaming/kafka.py`` —
    the DBAPI-seam pattern applied to the MQ side): None keeps the
    default parquet write below; an injected producer instead routes
    every message through ``produce_partition`` on the executors, with
    admin topic-create/partition-count queries driver-side and
    retriable produce errors resent (broker-side sequence dedup keeps
    the resend duplicate-free — the idempotent-producer contract,
    sarama_factory.go/admin.go)."""

    def __init__(self, out_dir: str, bookkeeping: Bookkeeping | None = None,
                 producer=None, num_partitions: int = 16):
        self.out_dir = out_dir
        #: K6: resolved-ts broadcast — one checkpoint message per topic per
        #: batch so consumers can advance without waiting for data
        #: (kafka_ddl_worker.go checkpoint loop; event_broker.go:579-606)
        self.checkpoint_dir = out_dir.rstrip("/") + "_checkpoint"
        self.bookkeeping = bookkeeping
        self.producer = producer
        self.num_partitions = num_partitions

    def _produce_batch(self, df: DataFrame, batch_id: int) -> None:
        from tigate_spark.streaming.kafka import produce_with_retry

        producer = self.producer
        # admin pass (driver-side, O(topics) like the reference's
        # ClusterAdminClient): create-or-get each topic and route by the
        # ACTUAL partition count (admin.go GetTopicPartitionNum)
        topics = [r["topic"] for r in df.select("topic").distinct().collect()]
        counts = {t: producer.ensure_topic(t, self.num_partitions)
                  for t in topics}
        msg_col = "message" if "message" in df.columns else "value"
        key_col = "key" if "key" in df.columns else None

        def run_partition(rows) -> None:
            groups: dict[tuple, list] = {}
            for r in rows:
                eff = int(r["partition"]) % counts[r["topic"]]
                groups.setdefault((r["topic"], eff), []).append({
                    "seq": int(r["seq"]),
                    "key": r["key"] if key_col else None,
                    "value": r[msg_col],
                })
            for (t, p), recs in groups.items():
                recs.sort(key=lambda x: x["seq"])
                produce_with_retry(producer, t, p, recs)

        df.repartition(F.col("topic"), F.col("partition")) \
          .foreachPartition(run_partition)
        producer.flush()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # No repartition here: the changefeed places the (topic, partition)
        # shuffle BELOW the protocol encode (changefeed._prepare_for_sink),
        # so the expensive per-row encode runs on all cores instead of on
        # the micro-batch's few source-read tasks — with the shuffle here,
        # a 1-file micro-batch encoded single-threaded. File count per
        # batch stays bounded by the shuffle's (topic, partition) grouping.
        # The checkpoint/bookkeeping aggs only touch (topic, table_id,
        # commit_ts) — Catalyst prunes the encode out of those scans.
        out_cols = [c for c in ("topic", "partition", "key", "value",
                                "message", "seq", "commit_ts",
                                "table_id", "pk")
                    if c in batch_df.columns]
        # lz4, not the session-default zstd: the changelog is the
        # throughput-bound hot path writing long JSON message strings, and
        # zstd-compressing them was the measured bottleneck (48k rows/s vs
        # 134k with lz4 at 100k-row batches; ~30% larger files). Kafka's
        # own wire compression is the cheap-codec family too — zstd stays
        # the right default for the read-heavy storage/event-store paths.
        if self.producer is not None:
            self._produce_batch(batch_df.select(*out_cols), batch_id)
        else:
            (batch_df.select(*out_cols)
             .write.option("compression", "lz4")
             .option("maxRecordsPerFile", 1_000_000)
             .mode("append").partitionBy("topic").parquet(self.out_dir))
        ckpt = batch_df.groupBy("topic").agg(
            F.max("commit_ts").alias("resolved_ts")
        ).select(
            "topic",
            F.format_string(
                '{"type":"resolved","ts":%d,"batch":%d}',
                F.col("resolved_ts"), F.lit(batch_id),
            ).alias("message"),
        )
        ckpt.write.mode("append").parquet(self.checkpoint_dir)
        if self.bookkeeping:
            self.bookkeeping.record(batch_df, batch_id)


#: TiCDC storage-sink date-separator → directory date format
#: (`csv_storage_basic/conf/changefeed.toml:6` — none | year | month | day)
_DATE_SEPARATOR_FMT = {
    "none": None,
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
}


class StorageSink:
    """K7: cloud-storage sink — dated-path file layout (csv / canal-json).

    The reference ships this sink family through its storage integration
    tests (`tests/integration_tests/csv_storage_basic/run.sh:23-27` —
    ``SINK_URI="file://$WORK_DIR/storage_test?flush-interval=5s"`` with
    ``protocol = "csv"``, ``date-separator = 'day'``,
    `csv_storage_basic/conf/changefeed.toml:1-16`; canal-json variant in
    `canal_json_storage_basic/`). Layout (public TiCDC storage layout):

        out_dir/{schema}/{table}/{date}/<data files>    one line per change
        out_dir/metadata                                 {"checkpoint-ts": N}

    Spark-first: the dated tree IS a partitioned text write —
    ``partitionBy(schema, table, dt)`` — so the layout falls out of the
    planner with no per-table driver loop and scales to any table count.
    File *naming* inside a leaf dir is Spark task naming (``part-*``)
    rather than the reference's ``CDC{num:06}.csv``; the directory
    contract, one-line-per-change content, and metadata checkpoint match.
    Micro-batch cadence plays flush-interval: each batch appends new files
    (file-rolling falls out of the trigger).
    """

    def __init__(self, out_dir: str, protocol: str = "csv",
                 date_separator: str = "day",
                 bookkeeping: Bookkeeping | None = None,
                 files_per_leaf: int = 4,
                 timezone: str | None = None,
                 file_expiration_days: int | None = None,
                 csv_config=None,
                 only_updated_old: bool = False,
                 content_compatible: bool = False):
        if date_separator not in _DATE_SEPARATOR_FMT:
            raise ValueError(f"unsupported date-separator: {date_separator}")
        if protocol not in ("csv", "canal-json"):
            raise ValueError(f"unsupported storage protocol: {protocol}")
        if file_expiration_days is not None and date_separator != "day":
            raise ValueError(
                "file-expiration-days requires date-separator=day")
        self.out_dir = out_dir
        self.protocol = protocol
        self.date_separator = date_separator
        #: date-path timezone (changefeed.go:27 `timezone`, mysql sink
        #: `time-zone`): the reference renders dated paths in the
        #: configured zone; None keeps the engine's UTC time base
        self.timezone = timezone
        self.bookkeeping = bookkeeping
        #: writer fan-out per leaf dir — a hot table's daily partition is
        #: written by up to this many tasks instead of funneling through one
        self.files_per_leaf = max(1, files_per_leaf)
        #: dated-file retention (sink.go:694 file-expiration-days; the
        #: storage_cleanup integration test): dt= partitions older than
        #: this many days behind the NEWEST date are pruned. Stream time,
        #: where the reference's cron uses the wall clock. Pruning is
        #: driver-side directory removal, throttled to once per new max
        #: date, so steady state costs nothing per batch.
        self.file_expiration_days = file_expiration_days
        self._last_cleaned_date: str | None = None
        #: [sink.csv] codec tuning (CSVConfig); validated eagerly like
        #: every other sink option — a bad delimiter must fail create,
        #: not the first micro-batch
        self.csv_config = csv_config
        #: canal-json option flags (pkg/config/sink.go:160; config.go:
        #: 262-265) — the storage tree honors them like the MQ path
        self.only_updated_old = only_updated_old
        self.content_compatible = content_compatible
        if csv_config is not None:
            if protocol != "csv":
                raise ValueError("csv config requires protocol=csv")
            csv_config.validate()

    def _encode(self, batch_df: DataFrame) -> DataFrame:
        from tigate_spark.functions.encoders import (
            encode_canal_json,
            encode_csv_rows,
        )

        if self.protocol == "csv":
            if self.csv_config is not None:
                from tigate_spark.functions.encoders import (
                    encode_csv_configured,
                )

                return encode_csv_configured(
                    batch_df, self.csv_config, out_col="line")
            return encode_csv_rows(batch_df, out_col="line")
        if self.content_compatible:
            # adapter-compatibility wire on the storage tree
            # (canal_json_storage_* scenarios compose with the flag)
            from tigate_spark.functions.encoders import (
                encode_canal_json_typed,
            )

            return encode_canal_json_typed(
                batch_df, out_col="line", content_compatible=True)
        return encode_canal_json(batch_df, out_col="line",
                                 only_updated_old=self.only_updated_old)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        parts = ["schema_name", "table_name"]
        pre = batch_df
        fmt = _DATE_SEPARATOR_FMT[self.date_separator]
        if fmt:
            # commit_ts is µs since epoch (engine time base); the date
            # path renders in the configured timezone (UTC by default —
            # the session tz is pinned UTC, so from_utc_timestamp is the
            # only zone shift in the plan)
            ts = F.timestamp_micros("commit_ts")
            if self.timezone:
                ts = F.from_utc_timestamp(ts, self.timezone)
            pre = pre.withColumn("dt", F.date_format(ts, fmt))
            parts.append("dt")
        # Shuffle BEFORE the protocol encode: a micro-batch often arrives
        # on a handful of source-read tasks, and an encode below the
        # exchange would run there single-threaded. The deterministic
        # leaf-local salt (pre-encode column, not the encoded line) bounds
        # files per (table, day) leaf at files_per_leaf while letting a
        # hot leaf write through that many parallel tasks.
        salt = F.pmod(F.hash("seq"), F.lit(self.files_per_leaf))
        pre = pre.repartition(*[F.col(p) for p in parts], salt)
        enc = self._encode(pre)
        (enc.select(*parts, "line")
         .write.mode("append").partitionBy(*parts).text(self.out_dir))
        # metadata checkpoint file at sink root (TiCDC cloudstorage
        # metadata contract: {"checkpoint-ts": N}); 1-row driver-side write.
        # Monotonic: a replayed / out-of-order micro-batch must never move
        # checkpoint-ts backwards, so max with the previous value.
        row = batch_df.agg(F.max("commit_ts").alias("ts")).collect()[0]
        if row["ts"] is not None:
            os.makedirs(self.out_dir, exist_ok=True)
            meta_path = os.path.join(self.out_dir, "metadata")
            ckpt = int(row["ts"])
            if os.path.exists(meta_path):
                import json

                with open(meta_path) as f:
                    try:
                        ckpt = max(ckpt, int(json.load(f)["checkpoint-ts"]))
                    except (ValueError, KeyError):
                        pass
            tmp = os.path.join(self.out_dir, f".metadata.tmp-{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write('{"checkpoint-ts":%d}' % ckpt)
            os.replace(tmp, meta_path)
        if self.file_expiration_days is not None and row["ts"] is not None:
            self._prune_expired(batch_max_ts=int(row["ts"]))
        if self.bookkeeping:
            self.bookkeeping.record(batch_df, batch_id)

    def _prune_expired(self, batch_max_ts: int) -> None:
        """Drop dt= partitions older than file_expiration_days behind
        the newest date (sink.go:694; storage_cleanup test). The batch's
        own max date — derived from the checkpoint ts the caller already
        collected, zero extra jobs — gates the scan: the tree glob
        (O(tables x dates) driver-side at the >1M-table design point)
        runs only on the batch that ADVANCES the date, so steady state
        within a day costs nothing per batch."""
        import datetime as _dt
        from zoneinfo import ZoneInfo

        batch_date = _dt.datetime.fromtimestamp(
            batch_max_ts / 1_000_000,
            tz=ZoneInfo(self.timezone) if self.timezone
            else _dt.timezone.utc,
        ).date().isoformat()
        if self._last_cleaned_date is not None \
                and batch_date <= self._last_cleaned_date:
            return
        leaf_dirs = glob.glob(os.path.join(
            self.out_dir, "schema_name=*", "table_name=*", "dt=*"))
        dates = sorted({os.path.basename(d)[3:] for d in leaf_dirs})
        if not dates:
            return
        cutoff = (
            _dt.date.fromisoformat(dates[-1])
            - _dt.timedelta(days=self.file_expiration_days)
        ).isoformat()
        for d in leaf_dirs:
            if os.path.basename(d)[3:] < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        self._last_cleaned_date = max(dates[-1], batch_date)


def read_storage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Consumer side of :class:`StorageSink` (the reference's
    ``run_storage_consumer``): reads the dated tree back with the
    partition columns (schema_name, table_name[, dt]) recovered from the
    directory layout."""
    # glob the first partition level so the root-level ``metadata`` file
    # doesn't defeat partition discovery; basePath recovers the columns
    return spark.read.option("basePath", out_dir).text(
        os.path.join(out_dir, "schema_name=*")
    )


class NoopSink:
    """K3: blackhole (throughput measurement)."""

    def __init__(self, bookkeeping: Bookkeeping | None = None):
        self.bookkeeping = bookkeeping

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.format("noop").mode("overwrite").save()
        if self.bookkeeping:
            self.bookkeeping.record(batch_df, batch_id)


__all__ = [
    "Bookkeeping",
    "ChangelogSink",
    "NoopSink",
    "ReplicaSink",
    "StorageSink",
    "read_replica",
    "read_state",
    "read_storage",
    "op_rank_col",
]


def vacuum_tombstones(spark: SparkSession, state_dir: str, below_ts: int) -> int:
    """T12: event-store GC — drop delete tombstones whose commit_ts is
    below the global checkpoint (``logservice/eventstore/gc.go``; for a
    Delta replica this is VACUUM). A tombstone older than the checkpoint
    can never be contradicted by a late change (stale events below the
    checkpoint are dropped at ingest — T9), so removing it is safe.

    Single pass: the removed-tombstone count rides the compaction write as
    an ``Observation`` metric — no separate pre-count scan. Implemented as
    a filtered manifest checkpoint (full snapshot version + manifest
    supersede), so it doubles as a compact. A live :class:`ReplicaSink`
    on another handle sees the new ``_snapshot`` marker and re-seeds past
    it. A crash after the snapshot's commit record but before the
    marker is written only lets the removed tombstones re-fold into
    :func:`read_state`; the live view is unchanged. After the marker,
    readers skip the versions below the snapshot, so a partial cleanup
    cannot bring a vacuumed key back. Returns tombstones removed.
    """
    from pyspark.sql import Observation

    man = _read_manifest(spark, state_dir)
    if man is None:
        return 0
    state = _resolve_state(spark, state_dir, man)
    dead = (F.col("op") == "D") & (F.col("commit_ts") < below_ts)
    obs = Observation()
    observed = state.observe(
        obs, F.sum(F.when(dead, 1).otherwise(0)).alias("n_dead")
    )
    _checkpoint_state(spark, state_dir, observed.filter(~dead), man)
    return int(obs.get["n_dead"] or 0)
