"""Shared pieces of the changefeed benchmark: the session, statistics,
memory readings, the hygiene check, the tracer and the readers of
Spark's own progress and SQL metrics.

Nothing here changes engine behaviour.  The engine is reached only
through its public entry points (``get_spark``, ``Changefeed``, the sink
objects, the catalog builders and the column functions); tracing wraps
those calls from the outside.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)


class CheckFailed(Exception):
    """An output or hygiene check failed."""


# -- statistics --------------------------------------------------------------

def pct(values, q: float) -> float:
    """The q-th percentile (linear interpolation); NaN for no samples."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def mean(values) -> float:
    return float(statistics.fmean(values)) if values else float("nan")


def weighted_pct(values, weights, q: float) -> float:
    """Percentile of ``values`` where each value stands for ``weight``
    samples (a micro-batch's end time stands for each of its rows)."""
    order = np.argsort(values)
    v = np.asarray(values, dtype=float)[order]
    w = np.cumsum(np.asarray(weights, dtype=float)[order])
    return float(v[np.searchsorted(w, q / 100.0 * w[-1])])


# -- session -----------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every temporary file inside ``work`` and put the repository
    on the executor workers' PYTHONPATH: sink code shipped to Python
    workers imports ``tigate_spark`` by name."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [REPO_ROOT] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p and p != REPO_ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def session_confs(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        # one progress record per micro-batch for the whole run
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def start_session(work: str, cpus: int, spark=None):
    """(Re)create the session through ``get_spark``; returns it and the
    seconds the call took."""
    from tigate_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t = time.monotonic()
    spark = get_spark("cdcbench", cpus=cpus, extra_confs=session_confs(work))
    return spark, time.monotonic() - t


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (closing its stdin is pyspark's signal for it to quit)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_stamp(spark) -> dict:
    """What a result needs to be compared with another: host, Spark and
    program version."""
    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO_ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(
            REPO_ROOT, "tigate_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, REPO_ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"nproc": nproc(), "spark_version": spark.version,
            "git_commit": commit, "source_sha256": h.hexdigest()[:16]}


# -- memory ------------------------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM plus the driver Python process."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


# -- hygiene -----------------------------------------------------------------

def persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet().toArray()}


@contextlib.contextmanager
def no_cache_left(spark, what: str):
    """No result caching in a timed region: an RDD persisted inside the
    pass and still persisted after it fails the pass."""
    before = persistent_rdd_ids(spark)
    yield
    left = persistent_rdd_ids(spark) - before
    if left:
        raise CheckFailed(
            f"{what}: RDDs {sorted(left)} are still persisted after the "
            "timed pass")


# -- tracing -----------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into the
    engine; disabled, it records nothing.  Its own bookkeeping time is
    summed in ``self_s``, the tracing overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.self_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.monotonic()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, 0.0, 0.0, parent))
        self._stack.append(sid)
        self.self_s += time.monotonic() - t
        start = time.monotonic()
        try:
            yield self.spans[sid]
        finally:
            end = time.monotonic()
            self.spans[sid].start, self.spans[sid].end = start, end
            self._stack.pop()
            self.self_s += time.monotonic() - end

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (Spark progress phases)."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, attrs))
        return sid

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of ``obj.method`` made while
        the tracer is enabled."""
        inner = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name):
                return inner(*a, **kw)

        setattr(obj, method, traced)

    def adopt(self, child: str, parent: str, slack_s: float = 0.05) -> None:
        """Make each span named ``child*`` a child of the ``parent*`` span
        whose interval holds it (within ``slack_s``): spans recorded on
        different clocks or threads joined into one tree."""
        outer = [s for s in self.spans if s.name.startswith(parent)]
        for s in self.spans:
            if s.name.startswith(child):
                for o in outer:
                    if o.start - slack_s <= s.start and s.end <= o.end + slack_s:
                        s.parent = o.id
                        break

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans
                if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- Spark streaming progress ------------------------------------------------

#: a trigger's phases in the order Spark runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def wall_to_mono_offset() -> float:
    """time.time() - time.monotonic(), to place Spark's wall-clock
    progress timestamps on the monotonic clock the benchmark uses."""
    return time.time() - time.monotonic()


def _iso_to_wall(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


@dataclass
class Batch:
    id: int
    start: float  # monotonic
    end: float    # monotonic
    rows: int
    durations: dict


def executed_batches(query, mono_offset: float) -> list[Batch]:
    """Micro-batches that ran (idle progress reports carry no addBatch),
    with start/end on the monotonic clock."""
    out = []
    for p in query.recentProgress:
        d = p.durationMs
        if "addBatch" not in d:
            continue
        start = _iso_to_wall(p.timestamp) - mono_offset
        out.append(Batch(p.batchId, start,
                         start + d["triggerExecution"] / 1e3,
                         int(p.numInputRows), dict(d)))
    return out


def source_log(checkpoint_dir: str) -> dict[str, int]:
    """file basename -> batch id, read from the query's own file-source
    log (plain and compacted entries)."""
    files: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    if files.setdefault(name, e["batchId"]) != e["batchId"]:
                        raise CheckFailed(
                            f"{name} is logged in batches "
                            f"{files[name]} and {e['batchId']}")
    return files


def phase_spans(tracer: Tracer, batches: list[Batch]) -> None:
    """Add each batch and its Spark phases to the trace, the phases laid
    end to end in Spark's order inside the trigger; then hang each
    trigger under the drain that ran it and each sink call under the
    ``addBatch`` phase that made it."""
    for b in batches:
        sid = tracer.add("changefeed.trigger", b.start, b.end,
                         batch=b.id, rows=b.rows)
        t = b.start
        for ph in PHASES:
            ms = b.durations.get(ph)
            if ms is not None:
                tracer.add(f"changefeed.{ph}", t, t + ms / 1e3, sid)
                t += ms / 1e3
    tracer.adopt("changefeed.trigger", "drain.")
    tracer.adopt("sinks.process_batch", "changefeed.addBatch")


def unaccounted_pct(batches: list[Batch]) -> list[float]:
    """Per batch, the share of the trigger time no phase covers."""
    out = []
    for b in batches:
        trig = b.durations["triggerExecution"]
        covered = sum(b.durations.get(p, 0) for p in PHASES)
        out.append(100.0 * max(trig - covered, 0) / trig if trig else 0.0)
    return out


def progress_metrics(batches: list[Batch]) -> dict:
    def ph(name):
        return [b.durations.get(name, 0) for b in batches]

    trig = ph("triggerExecution")
    return {
        "changefeed.batches": len(batches),
        "changefeed.rows_per_batch.p50": pct([b.rows for b in batches], 50),
        "changefeed.trigger_ms.p50": pct(trig, 50),
        "changefeed.trigger_ms.p90": pct(trig, 90),
        "changefeed.add_batch_ms.p50": pct(ph("addBatch"), 50),
        "changefeed.latest_offset_ms.p50": pct(ph("latestOffset"), 50),
        "changefeed.query_planning_ms.p50": pct(ph("queryPlanning"), 50),
        "changefeed.wal_commit_ms.p50": pct(ph("walCommit"), 50),
        "changefeed.commit_offsets_ms.p50": pct(ph("commitOffsets"), 50),
    }


# -- Spark SQL metrics from the status store ---------------------------------

_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string (``'1.2 s'``, ``'64.2 MiB'``,
    ``'5,321'`` or the ``total (min, med, max ...)`` form) as ms, bytes
    or a count."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


NODE_CLASSES = ("scan", "exchange", "aggregate", "join", "broadcast",
                "python")


def _node_class(name: str) -> str | None:
    if name.startswith("Scan") or "Scan " in name:
        return "scan"
    if name.startswith("BroadcastExchange"):
        return "broadcast"
    if "Exchange" in name:
        return "exchange"
    if "Aggregate" in name:
        return "aggregate"
    if "Join" in name:
        return "join"
    if "Python" in name or "InPandas" in name or "InArrow" in name:
        return "python"
    return None


@dataclass
class SqlMetrics:
    executions: int = 0
    node_ms: dict = field(default_factory=lambda: dict.fromkeys(
        NODE_CLASSES, 0.0))
    exchange_bytes: float = 0.0
    spill_bytes: float = 0.0
    broadcast_collect_ms: float = 0.0

    def add(self, other: "SqlMetrics") -> None:
        self.executions += other.executions
        for k, v in other.node_ms.items():
            self.node_ms[k] += v
        self.exchange_bytes += other.exchange_bytes
        self.spill_bytes += other.spill_bytes
        self.broadcast_collect_ms += other.broadcast_collect_ms


def sql_metrics(spark, ids) -> SqlMetrics:
    """Per-node SQL metrics of the given executions, summed by node
    class: every timing metric of a node counts toward its class."""
    ss = spark._jsparkSession.sharedState().statusStore()
    out = SqlMetrics()
    for eid in ids:
        out.executions += 1
        values = ss.executionMetrics(eid)
        nodes = ss.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            cls = _node_class(node.name())
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                name, kind, x = m.name(), m.metricType(), parse_metric(v.get())
                if cls and kind in ("timing", "nsTiming"):
                    out.node_ms[cls] += x
                if name == "shuffle bytes written":
                    out.exchange_bytes += x
                elif name == "spill size":
                    out.spill_bytes += x
                elif name == "time to collect":
                    out.broadcast_collect_ms += x
    return out


def parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total
