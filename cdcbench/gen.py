"""Seeded input generator for the changefeed benchmark.

Everything the engine reads in a benchmark run comes from here, derived
only from ``--seed``; the same seed gives byte-identical parquet files.

Value domains are the profile of the sf0.1 ``events`` table the catalog
is built around: five event types, 1500 user ids, an exponential value
with mean ~50 at cent precision and a ``{"k": 0..99}`` props document.
The headline tables reproduce the sf0.1 shapes (row counts, key ranges,
categorical domains and date windows) closely enough that every headline
query returns a non-trivial result.

Two ways to use it:

- as a library: :func:`write_backlog` and :func:`write_headline_tables`
  write a whole input set up front;
- as a separate process (``python3 cdcbench/gen.py live ...``): the open
  loop generator of the ``live_replica`` workload.  It writes file ``k``
  when it is due, ``t0 + (k + 1) * interval`` on ``CLOCK_MONOTONIC``,
  under a hidden name and renames it into place, so the file source never
  lists a half-written file.  On SIGTERM it writes a JSON report of every
  file's due time, publish time and lateness and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_USERS = 1500
VALUE_MEAN = 50.0
PROPS_K = 100
#: event time origin: 2024-01-01T00:00:00 UTC in microseconds
BASE_US = 1_704_067_200_000_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def events_table(rng: np.random.Generator, event_ids: np.ndarray,
                 ts_us: np.ndarray) -> pa.Table:
    """Events with the given ids and event times, other columns drawn
    from the sf0.1 domains."""
    n = len(event_ids)
    props = np.char.add(np.char.add('{"k": ', rng.integers(
        0, PROPS_K, n).astype(str)), "}")
    return pa.table([
        pa.array(event_ids, pa.int64()),
        pa.array(ts_us, pa.timestamp("us")),
        pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
        pa.array(props),
    ], schema=EVENTS_SCHEMA)


def write_atomic(table: pa.Table, path: str) -> None:
    """Write under a hidden name, then rename into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


# -- live_replica ------------------------------------------------------------

def live_file_name(k: int) -> str:
    return f"part-{k:06d}.parquet"


def live_file(seed: int, k: int, rows: int, interval_s: float) -> pa.Table:
    """File ``k`` of the open loop.  Row ``j`` is due at
    ``(k + (j + 1) / rows) * interval`` after the start, and that offset
    is its event time; the file is due when its last row is."""
    rng = np.random.default_rng([seed, 1, k])
    j = np.arange(rows, dtype=np.int64)
    offset_us = np.round((k + (j + 1) / rows) * interval_s * 1e6).astype(
        np.int64)
    return events_table(rng, k * rows + j, BASE_US + offset_us)


def run_live(seed: int, out_dir: str, rows: int, interval_s: float,
             t0: float, report: str) -> None:
    """Publish file k at monotonic time ``t0 + (k + 1) * interval`` until
    SIGTERM, then write the report.  The signal only sets a flag, so a
    file is either published and reported or neither."""
    published: list[dict] = []
    stopping: list[int] = []
    signal.signal(signal.SIGTERM, lambda sig, _frame: stopping.append(sig))
    k = 0
    while not stopping:
        table = live_file(seed, k, rows, interval_s)
        due = t0 + (k + 1) * interval_s
        while not stopping and (wait := due - time.monotonic()) > 0:
            time.sleep(min(wait, 0.02))
        if stopping:
            break
        write_atomic(table, os.path.join(out_dir, live_file_name(k)))
        done = time.monotonic()
        published.append({"k": k, "rows": rows, "due": due,
                          "published": done, "late_ms": (done - due) * 1e3})
        k += 1
    tmp = report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(published, f)
    os.replace(tmp, report)


# -- catchup -----------------------------------------------------------------

def write_backlog(seed: int, out_dir: str, n_files: int,
                  rows_per_file: int, spacing_us: int = 1000) -> int:
    """A backlog of ``n_files * rows_per_file`` changes with disjoint,
    increasing event ids and strictly increasing event times, so every
    file boundary is also a commit-ts boundary.  Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        rng = np.random.default_rng([seed, 2, k])
        ids = np.arange(k * rows_per_file, (k + 1) * rows_per_file,
                        dtype=np.int64)
        write_atomic(events_table(rng, ids, BASE_US + ids * spacing_us),
                     os.path.join(out_dir, f"part-{k:06d}.parquet"))
    return n_files * rows_per_file


# -- headline tables ---------------------------------------------------------

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
WORDS = np.array(
    "a the of and batch part spark line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "merge data vector join customer index cache shard log".split())
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day, n_days, n):
    return pa.array(_EPOCH_1995_US + (first_day + rng.integers(
        0, n_days, n)) * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ~6% are near copies (one word replaced)
    and a handful exact copies of an earlier document, so the dedup
    queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(
                WORDS[rng.integers(0, len(WORDS))])
            texts.append(" ".join(words))
        elif i > 50 and r < 0.062:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[rng.integers(
                0, len(WORDS), int(rng.integers(8, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[labels] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def headline_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The nine tables the headline queries read, at ``sf``."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), 2000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_li),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 1, 2499, n_li)})
    ev_us = BASE_US + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = events_table(rng, np.arange(n_ev, dtype=np.int64), ev_us)
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_headline_tables(seed: int, out_dir: str, sf: float = 0.1) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in headline_tables(seed, sf).items():
        write_atomic(table, os.path.join(out_dir, f"{name}.parquet"))


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    live = sub.add_parser("live", help="open-loop file generator")
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--out", required=True)
    live.add_argument("--rows", type=int, required=True)
    live.add_argument("--interval", type=float, required=True)
    live.add_argument("--t0", type=float, required=True,
                      help="CLOCK_MONOTONIC start shared with the caller")
    live.add_argument("--report", required=True)
    args = ap.parse_args(argv)
    run_live(args.seed, args.out, args.rows, args.interval, args.t0,
             args.report)


if __name__ == "__main__":
    main(sys.argv[1:])
