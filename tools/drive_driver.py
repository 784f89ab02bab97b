"""Self-drive the external correctness driver's protocol.

Plain SparkSession (no custom confs — __spark_entry__ / ensure_confs must
repair it), import the __spark_entry__.py at the root of the checkout
this tool lives in, smoke entry(), then for
every queries() entry run Spark vs DuckDB oracle at sf0.01: sort columns
by name, normalize floats to %.10g, sort rows, compare — AND compare the
pandas dtype-kind signature per column (int-vs-float drift fails even when
values are numerically equal, matching the external driver's dtype-
sensitive hash). Nonzero exit on any mismatch/error.

Usage: python tools/drive_driver.py [--sf DIR] [--only name1,name2] [--limit N]
"""
import argparse
import importlib.util
import os
import sys
import time
import traceback

import duckdb

from pyspark.sql import SparkSession

#: the entry module at the root of the checkout this tool lives in
ENTRY_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def dtype_sig(pdf):
    """Per-column dtype kind signature, sorted by column name.

    The external driver's value hash is dtype-sensitive (pandas int64 vs
    float64 hash differently even when values are numerically equal — the
    exact bug class behind the r05 ``pack_sequences`` HUGEINT→float64
    failure). Signed/unsigned ints collapse to one kind; everything else
    keeps its pandas dtype.kind.
    """
    return tuple(
        (c, "i" if pdf[c].dtype.kind in "iu" else pdf[c].dtype.kind)
        for c in sorted(pdf.columns)
    )


def norm_df(pdf):
    import pandas as pd
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].map(lambda v: "%.10g" % v if pd.notna(v) else "NULL")
        else:
            pdf[c] = pdf[c].map(lambda v: "NULL" if pd.isna(v) else str(v))
    rows = sorted(map(tuple, pdf.itertuples(index=False, name=None)))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--limit", type=int, default=None)
    args = ap.parse_args()

    # Driver heap is a STARTUP-only size knob, not a runtime conf the
    # entries could repair — and this tool runs the FULL catalog (296
    # entries, dozens of streaming e2es) in one long-lived JVM where the
    # external driver runs ~50 per round. At the 1 GiB default that
    # cumulative load OOMs around entry ~150 (r17: heap OOM inside a
    # shuffle trigger of consumer_simple_avro_claim_check_e2e, which
    # passes in isolation). Sizing the heap keeps the plain-session
    # conf-repair contract intact while making full drives reliable.
    spark = (SparkSession.builder.master("local[8]")
             .appName("drive_driver").config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("TIGATE_DRIVER_MEM", "4g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location("__spark_entry__",
                                                  ENTRY_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    n = mod.entry(spark).count()
    print(f"entry(): {n} rows", flush=True)
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = list(queries)
    if args.only:
        names = [x for x in args.only.split(",") if x in queries]
    if args.limit:
        names = names[:args.limit]

    failed = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            spdf = sdf.toPandas()
            if name not in oracles:
                print(f"[{i+1}/{len(names)}] {name}: rows-only {len(spdf)} ({time.time()-t0:.1f}s)", flush=True)
                continue
            opdf = con.execute(oracles[name]).df()
            ssig, osig = dtype_sig(spdf), dtype_sig(opdf)
            srows, orows = norm_df(spdf), norm_df(opdf)
            dtype_ok = ssig == osig
            ok = srows == orows and dtype_ok
            status = "OK" if ok else ("DTYPE" if srows == orows else "MISMATCH")
            print(f"[{i+1}/{len(names)}] {name}: {status} spark={len(srows)} oracle={len(orows)} ({time.time()-t0:.1f}s)", flush=True)
            if not ok:
                failed.append(name)
                if not dtype_ok:
                    drift = [(a, b) for a, b in zip(ssig, osig) if a != b]
                    print(f"    dtype drift (spark vs oracle): {drift}")
                for j, (a, b) in enumerate(zip(srows, orows)):
                    if a != b:
                        print(f"    first diff row {j}:\n      spark : {a}\n      oracle: {b}")
                        break
                if len(srows) != len(orows):
                    print(f"    row count differs: {len(srows)} vs {len(orows)}")
        except Exception:
            print(f"[{i+1}/{len(names)}] {name}: ERROR ({time.time()-t0:.1f}s)", flush=True)
            traceback.print_exc(limit=3)
            failed.append(name)

    print(f"\n{len(names) - len(failed)}/{len(names)} ok; failed: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
