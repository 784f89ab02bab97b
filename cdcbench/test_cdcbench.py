"""The benchmark's own tests: its inputs are reproducible, its output
checks catch a lost file, and its hygiene check catches a cache left in
a timed pass.

    python3 -m pytest cdcbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

import checks  # noqa: E402
import gen  # noqa: E402
import harness as H  # noqa: E402


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def _write_inputs(seed: int, d: str) -> None:
    live = os.path.join(d, "live")
    os.makedirs(live)
    for k in range(3):
        gen.write_atomic(gen.live_file(seed, k, 250, 0.25),
                         os.path.join(live, gen.live_file_name(k)))
    gen.write_backlog(seed, os.path.join(d, "backlog"), 2, 1000)
    gen.write_headline_tables(seed, os.path.join(d, "headline"), sf=0.01)


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_inputs(7, a)
    _write_inputs(7, b)
    _write_inputs(8, c)
    for sub in ("live", "backlog", "headline"):
        first = _bytes(os.path.join(a, sub))
        assert first and first == _bytes(os.path.join(b, sub)), sub
        assert first != _bytes(os.path.join(c, sub)), sub


@pytest.fixture
def live_files(tmp_path):
    paths = []
    for k in range(8):
        p = str(tmp_path / gen.live_file_name(k))
        gen.write_atomic(gen.live_file(3, k, 250, 0.25), p)
        paths.append(p)
    return paths


def _lww(files):
    return checks.events_con(files).execute(
        checks.lww_sql(checks.REPLICA_COLS)).df()


def test_replica_check_passes_on_every_file(live_files):
    checks.check_replica(_lww(live_files), live_files)


def test_dropped_file_fails_replica_check(live_files):
    # the feed lost the newest file: its changes never reached the replica
    with pytest.raises(H.CheckFailed):
        checks.check_replica(_lww(live_files[:-1]), live_files)


def test_dropped_file_fails_sqlite_check(live_files):
    cols = "table_id, pk, event_type, value_cents"
    state = checks.events_con(live_files[:-1]).execute(
        checks.lww_sql(cols)).df()
    with pytest.raises(H.CheckFailed):
        checks.check_sqlite_state(state, live_files)


def test_dropped_file_fails_changelog_check(live_files):
    con = checks.events_con(live_files[:-1])
    counts = dict(con.execute(
        checks._changes_cte() + "SELECT schema_name || '_' || table_name, "
        "count(*) FROM changes GROUP BY 1").fetchall())
    mx = con.execute(checks._changes_cte() + "SELECT max(commit_ts) "
                     "FROM changes").fetchone()[0]
    with pytest.raises(H.CheckFailed):
        checks.check_changelog(counts, mx, live_files)


def test_dropped_file_fails_batch_mapping_check(live_files):
    names = [os.path.basename(p) for p in live_files]
    logged = {n: i // 3 for i, n in enumerate(names)}
    checks.check_files_once(names, logged)
    del logged[names[4]]
    with pytest.raises(H.CheckFailed):
        checks.check_files_once(names, logged)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    H.prepare_env(work)
    s, _ = H.start_session(work, cpus=1)
    yield s
    s.stop()


def test_persisted_rdd_fails_hygiene_check(spark):
    with H.no_cache_left(spark, "clean pass"):
        df = spark.range(100).persist()
        df.count()
        df.unpersist(blocking=True)
    with pytest.raises(H.CheckFailed):
        with H.no_cache_left(spark, "caching pass"):
            kept = spark.range(100).persist()
            kept.count()
    kept.unpersist(blocking=True)
