"""Output checks against independent DuckDB oracles.

Every check compares what the engine committed with a DuckDB reading of
the very files the benchmark generated, and raises :class:`CheckFailed`
on the first difference.  Checks run outside the timed region.  The
change derivation is the catalog's own oracle text
(``ORACLE_CHANGES_CTE``); row comparison reuses ``norm_df``/``dtype_sig``
from ``tools/drive_driver.py`` so a value or dtype drift fails exactly as
it fails the catalog drive.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from harness import REPO_ROOT, CheckFailed

_drive = None


def drive_driver():
    """``tools/drive_driver.py`` as a module (``tools`` is no package)."""
    global _drive
    if _drive is None:
        spec = importlib.util.spec_from_file_location(
            "drive_driver", os.path.join(REPO_ROOT, "tools", "drive_driver.py"))
        _drive = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_drive)
    return _drive


def events_con(files: list[str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with an ``events`` view over ``files``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    listed = ", ".join(f"'{f}'" for f in sorted(files))
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{listed}])")
    return con


def duckdb_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def _changes_cte() -> str:
    from tigate_spark.sources.changes import ORACLE_CHANGES_CTE

    return ORACLE_CHANGES_CTE


def lww_sql(cols: str) -> str:
    """Last writer wins per (table_id, pk) over the canonical total order,
    deletes dropped — the live replica a correct feed converges to."""
    return _changes_cte() + f"""
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC,
             seq DESC) AS rn
  FROM changes
)
SELECT {cols} FROM ordered WHERE rn = 1 AND op <> 'D'
"""


def same_rows(what: str, got, want) -> None:
    """Equal as multisets of normalized rows, with equal dtype kinds."""
    dd = drive_driver()
    if dd.dtype_sig(got) != dd.dtype_sig(want):
        raise CheckFailed(f"{what}: dtypes {dd.dtype_sig(got)} != "
                          f"{dd.dtype_sig(want)}")
    g, w = dd.norm_df(got), dd.norm_df(want)
    if g != w:
        diff = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b),
                    min(len(g), len(w)))
        raise CheckFailed(
            f"{what}: {len(g)} rows vs {len(w)} expected; first difference "
            f"at sorted row {diff}: "
            f"{g[diff] if diff < len(g) else None} vs "
            f"{w[diff] if diff < len(w) else None}")


REPLICA_COLS = "table_id, pk, commit_ts, seq, event_type, value_cents, user_id"


def check_replica(replica_pdf, files: list[str]) -> None:
    """``read_replica`` equals DuckDB last-writer-wins over every file."""
    want = events_con(files).execute(lww_sql(REPLICA_COLS)).df()
    same_rows("replica state", replica_pdf[want.columns.tolist()], want)


def check_sqlite_state(state_pdf, files: list[str]) -> None:
    """The sqlite:// lanes' final state equals DuckDB last-writer-wins."""
    cols = "table_id, pk, event_type, value_cents"
    want = events_con(files).execute(lww_sql(cols)).df()
    same_rows("sqlite state", state_pdf[want.columns.tolist()], want)


def check_changelog(topic_counts: dict, resolved_ts: int,
                    files: list[str]) -> None:
    """One message per change, per-topic counts as DuckDB derives them,
    and the checkpoint's resolved ts at the largest commit ts."""
    con = events_con(files)
    want = dict(con.execute(
        _changes_cte() + "SELECT schema_name || '_' || table_name, count(*) "
        "FROM changes GROUP BY 1").fetchall())
    if topic_counts != want:
        raise CheckFailed(f"changelog per-topic counts {topic_counts} != "
                          f"{want}")
    mx = con.execute(_changes_cte() + "SELECT max(commit_ts) FROM changes"
                     ).fetchone()[0]
    if resolved_ts != mx:
        raise CheckFailed(f"changelog resolved ts {resolved_ts} != max "
                          f"commit ts {mx}")


def check_files_once(published: list[str], logged: dict[str, int]) -> None:
    """Every published file lands in exactly one batch and the feed read
    nothing else."""
    missing = sorted(set(published) - set(logged))
    extra = sorted(set(logged) - set(published))
    if missing or extra:
        raise CheckFailed(f"files never batched: {missing[:5]} "
                          f"({len(missing)}); unknown files batched: "
                          f"{extra[:5]} ({len(extra)})")
